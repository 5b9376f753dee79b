package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graft.Bridge.ADT

/**
 * Custom Catalyst expressions for the signature kernel (SURVEY.md §2.11,
 * §7 "candidate future Expressions"): native codegen'd column functions so
 * signature math can live inside whole-stage codegen instead of a Scala UDF
 * (no boxing, no serialization tax, NULL handling via nullSafeCodeGen).
 *
 * Each doGenCode emits a static call into the deterministic JVM kernel
 * (graft.functions.TextKernel / Expr0) — the expression stays inside the
 * generated class's fused loop; only the kernel call is out-of-line.
 */
object Expr0 {
  // static entry points for generated code (stable names, no overload ambiguity)
  def simhash(s: UTF8String): Long =
    // fused tokenize+hash (bit-identical to tokenHashes(tokens(norm)) —
    // TextKernelSpec parity gate): O(1) allocations per value, not O(tokens)
    TextKernel.simhash64FromHashes(
      TextKernel.tokenHashesFromNorm(TextKernel.normalize(s.toString)))
  private val paramCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), (Array[Long], Array[Long])]()
  private def params(numPerms: Int, seed: Long) =
    paramCache.computeIfAbsent((numPerms, seed),
      k => Hashing.minhashParams(k._1, k._2))

  def minhashSig(s: UTF8String, k: Int, numPerms: Int, seed: Long): ArrayData = {
    val th = TextKernel.tokenHashesFromNorm(TextKernel.normalize(s.toString))
    val sh = TextKernel.shingleSetFromHashes(th, k)
    val (a, b) = params(numPerms, seed)
    new GenericArrayData(TextKernel.minhash(sh, a, b))
  }
  def jaccardSorted(a: ArrayData, b: ArrayData): Double =
    TextKernel.jaccardSorted(a.toLongArray(), b.toLongArray())

  def minhashEst(a: ArrayData, b: ArrayData): Double =
    TextKernel.minhashEstimate(a.toLongArray(), b.toLongArray())

  /** The LSH item generator's per-doc rows (see LshItemsExpr): band keys
    * (already band-index-mixed by TextKernel.bandKeys) with their band id,
    * then bundle-variant bucket keys xxhash64(v_id, v_hash) — the EXACT
    * value Spark's `xxhash64(i, v)` computes (hashInt chained into hashLong,
    * seed 42; ExpressionsSpec pins the parity), so the dumped oracle surface
    * (pipe_variants/minhash_doc_variants, which use the Spark builtin)
    * stays bit-identical to the engine's bucket keys. */
  def lshItems(bands: ArrayData, bundle: ArrayData): ArrayData = {
    val nb = bands.numElements()
    val nv = bundle.numElements()
    val out = new Array[Any](nb + nv)
    var i = 0
    while (i < nb) {
      out(i) = org.apache.spark.sql.catalyst.InternalRow(bands.getLong(i), i, 0)
      i += 1
    }
    var j = 0
    while (j < nv) {
      out(nb + j) = org.apache.spark.sql.catalyst.InternalRow(
        Hashing.xxh64Long(bundle.getLong(j), Hashing.xxh64Int(j, 42L)), -1, 1)
      j += 1
    }
    new GenericArrayData(out)
  }

  def packLowBytes(a: ArrayData): Array[Byte] = {
    val n = a.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = a.getLong(i).toByte; i += 1 }
    out
  }

  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long, Int), Array[Double]]()

  /** Deterministic hyperplane weights for sign-LSH, flattened (plane-major).
    * Derived from (seed, plane, dim) counter-mode hashing — no stored model,
    * identical on every executor. */
  private def planeWeights(nPlanes: Int, seed: Long, dims: Int): Array[Double] =
    planeCache.computeIfAbsent((nPlanes, seed, dims), { k =>
      val (np, sd, d) = k
      val w = new Array[Double](np * d)
      var p = 0
      while (p < np) {
        var i = 0
        while (i < d) {
          w(p * d + i) = Hashing.mix64(sd ^ (p.toLong << 32) ^ i.toLong).toDouble / Long.MaxValue
          i += 1
        }
        p += 1
      }
      w
    })

  /** Sign-random-hyperplane LSH bucket of an embedding: bit p set iff the
    * dot product with deterministic hyperplane p is ≥ 0. Bit-equal to the
    * previous interpreted formulation (per-plane left-to-right Column sum of
    * element_at products) but one tight JVM loop inside codegen. */
  def hyperplaneSig(arr: ArrayData, nPlanes: Int, seed: Long, isFloat: Boolean): Long = {
    val n = arr.numElements()
    val w = planeWeights(nPlanes, seed, n)
    var sig = 0L
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0
      var i = 0
      val base = p * n
      while (i < n) {
        val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        dot += x * w(base + i)
        i += 1
      }
      if (dot >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Exact JVM twin of `trim(regexp_replace(lower(s), "[^a-z0-9]+", " "))`
    * (optimization r06): lowercase via the SAME UTF8String.toLowerCase call
    * the built-in `lower` compiles to (so lower parity is exact by
    * construction, not re-implementation), then a byte-level run-collapse.
    * Byte-level IS char-level for this pattern: [a-z0-9] are single-byte
    * UTF-8 and every byte of a multi-byte char is outside the class, so a
    * non-matching char run and its byte run collapse to the same single
    * space; leading/trailing runs are skipped, which is exactly trim().
    * Motivation: java.util.regex first-use (pattern machinery JIT) cost a
    * measured ~1.3 s on the session's first regexp_replace execution —
    * constant, data-independent — and the regex scan itself is ~4× this
    * loop warm. */
  def normAlnum(s: UTF8String): UTF8String = {
    val b = s.toLowerCase.getBytes
    val out = new Array[Byte](b.length)
    var w = 0
    var prevSpace = true
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        out(w) = c; w += 1; prevSpace = false
      } else if (!prevSpace) {
        out(w) = ' '; w += 1; prevSpace = true
      }
      i += 1
    }
    if (w > 0 && out(w - 1) == ' ') w -= 1
    UTF8String.fromBytes(out, 0, w)
  }

  /** Distinct word-3-gram hashes of an already-normalized text (the
    * ngram-jaccard shingle kernel, optimization r06): whitespace token
    * hashes via the fused byte-scan tokenizer, then the k=3 shingle chain —
    * one codegen call replacing an interpreted
    * transform(sequence, xxhash64(element_at×3)) + array_distinct HOF chain
    * (measured ~10× the per-row cost of this loop). Hash VALUES are
    * internal to the query (only pair intersection counts surface), so the
    * engine-hash change is invisible to outputs: distinctness ⟺ trigram
    * string distinctness up to a 64-bit collision, exactly as before.
    * Fewer than 3 tokens → empty (the ngram query's `when` semantics —
    * deliberately NOT shingleSetFromHashes' whole-text fallback). */
  def trigramHashes(s: UTF8String): ArrayData = {
    val th = TextKernel.tokenHashesFromNorm(s.toString)
    if (th.length < 3) new GenericArrayData(Array.emptyLongArray)
    else new GenericArrayData(TextKernel.shingleSetFromHashes(th, 3))
  }

  /** Exact JVM twin of `regexp_extract(s, "^[a-z]+", 0)`: the leading run
    * of lowercase ASCII letters ("" when the first char is not one — the
    * same empty-string no-match convention as regexp_extract). Bytes of
    * any multi-byte char are ≥ 0x80, so the byte scan stops exactly where
    * the char scan would. */
  def lowerAlphaPrefix(s: UTF8String): UTF8String = {
    val b = s.getBytes
    var i = 0
    while (i < b.length && b(i) >= 'a' && b(i) <= 'z') i += 1
    UTF8String.fromBytes(b, 0, i)
  }

  /** High-32-bit truncation + dedup of a SORTED long array, one codegen
    * pass (optimization r06): exact twin of
    * array_distinct(transform(a, v => shiftright(v, 32).cast("int"))) for
    * sorted inputs — signed shiftright is monotonic, so equal truncations
    * are adjacent and first-occurrence dedup ≡ adjacent dedup, same values
    * in the same order. The HOF chain ran an interpreted lambda per
    * element (sketchK + numBlocks·blockK ≈ 3.3k per doc) on the verify
    * payload's map side. */
  def sketch32(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Int](n)
    var w = 0; var i = 0
    var prev = 0
    while (i < n) {
      val v = (a.getLong(i) >> 32).toInt
      if (w == 0 || v != prev) { out(w) = v; w += 1; prev = v }
      i += 1
    }
    new GenericArrayData(if (w == n) out else java.util.Arrays.copyOf(out, w))
  }

  def blocks32(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = sketch32(a.getArray(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** The verify pass-1 evidence kernel as ONE static call (optimization
    * r06): exactly the per-pair body of the former Dataset.map — same
    * TextKernel calls in the same order on the same decoded values — so
    * outputs are bit-identical, but the plan carries a small expression
    * tree instead of the tuple13 ExpressionEncoder's deserialize/serialize
    * trees (measured ~0.75 s of Catalyst planning per pipeline rep, plus
    * per-row Array boxing/copy churn in the object boundary). */
  def pairEvidence(skA: ArrayData, blkA: ArrayData, shA: Long, bunA: ArrayData,
                   skB: ArrayData, blkB: ArrayData, shB: Long, bunB: ArrayData,
                   est: Double, topK: Int, blockFloor: Double, cutoff: Int,
                   strictJ: Double): org.apache.spark.sql.catalyst.InternalRow = {
    val jac = TextKernel.jaccardSorted(skA.toIntArray(), skB.toIntArray())
    val nBlk = math.min(blkA.numElements(), blkB.numElements())
    val blockJ = new Array[Double](nBlk)
    var i = 0
    var verifiedBlocks = 0
    while (i < nBlk) {
      val bj = TextKernel.jaccardSorted(
        blkA.getArray(i).toIntArray(), blkB.getArray(i).toIntArray())
      blockJ(i) = bj
      if (bj >= blockFloor) verifiedBlocks += 1
      i += 1
    }
    java.util.Arrays.sort(blockJ)
    var s = 0.0; var c = 0; var j = nBlk - 1
    while (j >= 0 && c < topK) { s += blockJ(j); c += 1; j -= 1 }
    val patchTopK = if (c == 0) 0.0 else s / c
    val patchMin = if (nBlk == 0) 0.0 else blockJ(0)
    val shDist = TextKernel.hamming(shA, shB)
    val bunDist = TextKernel.minHammingBundle(
      bunA.toLongArray(), bunB.toLongArray(), cutoff)
    val needSpan = jac < strictJ && bunDist > cutoff && est >= 0.15
    org.apache.spark.sql.catalyst.InternalRow(
      jac, patchTopK, patchMin, verifiedBlocks, shDist, bunDist, needSpan)
  }

  /** The verify pass-2 span kernel as one static call: same
    * SuffixSpans call and the same Java-String length arithmetic
    * as the former tuple14 Dataset.map (String.length counts UTF-16 units —
    * deliberately NOT Spark's codepoint length()). */
  def lcsSpanStats(a: UTF8String, b: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val sa = a.toString; val sb = b.toString
    val (span, pa, pb) = graft.operators.SuffixSpans.lcsWithPositions(sa, sb)
    val minLen = math.max(1, math.min(sa.length, sb.length))
    org.apache.spark.sql.catalyst.InternalRow(
      span, span.toDouble / minLen, pa - pb)
  }

  def dotArr(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    // Left-to-right accumulation: bit-equal to aggregate(zip_with) for
    // EQUAL-length inputs (the only internal use). Unequal lengths truncate
    // to the shorter array, whereas the zip_with chain would yield NULL
    // (null-padded products) — documented divergence on the SQL surface.
    // Float inputs widen per element (exact in IEEE), so feeding the raw
    // float[] embedding column is bit-identical to the former
    // transform(cast-to-double) projection — which existed ONLY to feed
    // this kernel and doubled the bytes of every embedding the ANN queries
    // broadcast or shuffle (optimization r06).
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }
}

/** simhash64(text): 64-bit SimHash of normalized token frequencies (X2 analog). */
case class SimHash64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ADT] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = Expr0.simhash(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Expr0.simhash($c)")
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
  override def prettyName: String = "simhash64"
}

/** minhash_sig(text): MinHash signature array under the fixed engine config. */
case class MinHashSig(child: Expression, shingleK: Int, numPerms: Int, seed: Long)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ADT] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Expr0.minhashSig(v.asInstanceOf[UTF8String], shingleK, numPerms, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Expr0.minhashSig($c, $shingleK, $numPerms, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  override def prettyName: String = "minhash_sig"
}

/** hamming64(a, b): popcount(a XOR b) — X5 analog, pure codegen arithmetic. */
case class Hamming64(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ADT] = Seq(LongType, LongType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount($a ^ $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Hamming64 =
    copy(left = l, right = r)
  override def prettyName: String = "hamming64"
}

/** jaccard_sorted(a, b): exact Jaccard of two sorted distinct long arrays (X8). */
case class JaccardSortedExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ADT] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    Expr0.jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Expr0.jaccardSorted($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSortedExpr =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_sorted"
}

/** norm_alnum(text): the shared text normalization (F5/X7) as a codegen'd
  * byte kernel — exact twin of trim(regexp_replace(lower(text),
  * "[^a-z0-9]+", " ")) for every input (see Expr0.normAlnum), minus the
  * java.util.regex machinery and its measured ~1.3 s session-first-use
  * warmup on the bench's cold path. */
case class NormAlnum(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ADT] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = Expr0.normAlnum(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Expr0.normAlnum($c)")
  override protected def withNewChildInternal(c: Expression): NormAlnum = copy(c)
  override def prettyName: String = "norm_alnum"
}

/** trigram_hashes(normText): sorted distinct word-3-gram hashes of an
  * already-normalized string — the ngram-jaccard shingle generator as one
  * codegen kernel call (see Expr0.trigramHashes). */
case class TrigramHashes(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ADT] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Expr0.trigramHashes(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Expr0.trigramHashes($c)")
  override protected def withNewChildInternal(c: Expression): TrigramHashes = copy(c)
  override def prettyName: String = "trigram_hashes"
}

/** lower_prefix(s): regexp_extract(s, "^[a-z]+", 0) as a codegen'd byte
  * scan (PolicyGates id-class heuristic — keeps the gate query regex-free
  * on the bench's executed path). */
case class LowerPrefix(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ADT] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = Expr0.lowerAlphaPrefix(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Expr0.lowerAlphaPrefix($c)")
  override protected def withNewChildInternal(c: Expression): LowerPrefix = copy(c)
  override def prettyName: String = "lower_prefix"
}

/** dot_arr(a, b): dot product of two numeric arrays — the embedding-kernel
  * hot path (brute-force cosine, near-dup thresholding) as a tight JVM loop
  * inside whole-stage codegen instead of an interpreted
  * aggregate(zip_with(...)) higher-order-function chain. Accepts float or
  * double arrays per side (per-element widening is IEEE-exact, so raw
  * float[] embeddings need no cast projection — see Expr0.dotArr). */
case class DotArr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_arr needs array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    Expr0.dotArr(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.Expr0.dotArr($a, $b, ${isFloat(left)}, ${isFloat(right)})")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotArr =
    copy(left = l, right = r)
  override def prettyName: String = "dot_arr"
}

/** hyperplane_sig(embedding): sign-random-hyperplane LSH bucket (X6/J3
  * analog for the embedding domain) — one codegen'd JVM loop instead of
  * nPlanes × dims interpreted element_at expressions. Accepts float or
  * double arrays (no cast pass needed on the scan). */
case class HyperplaneSig(child: Expression, nPlanes: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hyperplane_sig needs array<float|double>, got $t")
    }
  override def nullSafeEval(v: Any): Any =
    Expr0.hyperplaneSig(v.asInstanceOf[ArrayData], nPlanes, seed, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Expr0.hyperplaneSig($c, $nPlanes, ${seed}L, $isFloat)")
  override protected def withNewChildInternal(c: Expression): HyperplaneSig = copy(child = c)
  override def prettyName: String = "hyperplane_sig"
}

/** minhash_est(a, b): estimated Jaccard = fraction of agreeing MinHash
  * positions — tight JVM loop inside codegen (replaces an interpreted
  * aggregate(zip_with) fallback in the candidate join's hot path). */
case class MinhashEstExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ADT] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    Expr0.minhashEst(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Expr0.minhashEst($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MinhashEstExpr =
    copy(left = l, right = r)
  override def prettyName: String = "minhash_est"
}

/** pack_low_bytes(array<long>): low 8 bits of each signature component as a
  * packed binary — the 8-bit b-bit minwise payload the candidate scoring
  * join ships per endpoint (numPerms BYTES instead of numPerms ints: the
  * conv_b signature exchange was the candidate stage's attributed byte
  * wall). */
case class PackLowBytes(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ADT] = Seq(ArrayType(LongType))
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any =
    Expr0.packLowBytes(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Expr0.packLowBytes($c)")
  override protected def withNewChildInternal(c: Expression): PackLowBytes = copy(c)
  override def prettyName: String = "pack_low_bytes"
}

/** minhash_est8(a, b): debiased 8-bit b-bit minwise estimate over packed
  * low-byte signatures (TextKernel.minhashEstimate8) — quarter the scoring
  * join's shuffle bytes vs the 32-bit path at O(2⁻⁸) added variance. */
case class MinhashEst8Expr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ADT] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernel.minhashEstimate8(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.TextKernel.minhashEstimate8($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MinhashEst8Expr =
    copy(left = l, right = r)
  override def prettyName: String = "minhash_est8"
}

/** lsh_items(bands, simhash_bundle): the candidate join's unified bucket-item
  * rows — struct(bkey, band_id, src) per band key (src 0) and per bundle
  * variant (bkey = xxhash64(v_id, v_hash), band_id −1, src 1) — as ONE
  * codegen kernel call per doc. Replaces the former
  * explode(concat(transform(bands, …), transform(simhash_bundle, …)))
  * chain, whose higher-order-function lambdas ran INTERPRETED per element
  * (~68 structs/doc; measured the band-exchange map stage's dominant CPU),
  * and — because LambdaFunction subtrees get fresh exprIds per plan
  * reference and never canonicalize equal — blocked exchange reuse when two
  * consumers read the item table. Values bit-identical (ExpressionsSpec). */
case class LshItemsExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ADT] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LshItemsExpr.schema
  override def nullSafeEval(a: Any, b: Any): Any =
    Expr0.lshItems(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Expr0.lshItems($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): LshItemsExpr =
    copy(left = l, right = r)
  override def prettyName: String = "lsh_items"
}

object LshItemsExpr {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("bkey", LongType, nullable = false),
    StructField("band_id", IntegerType, nullable = false),
    StructField("src", IntegerType, nullable = false))), containsNull = false)
}

/** pair_evidence(sketch_a, blocks_a, simhash_a, bundle_a, sketch_b,
  * blocks_b, simhash_b, bundle_b, minhash_est): the verify pass-1 evidence
  * kernel as one codegen'd expression returning a struct — replaces the
  * tuple13 ExpressionEncoder Dataset.map (see Expr0.pairEvidence for the
  * bit-parity argument and the planning-cost motivation). */
case class PairEvidenceExpr(children: Seq[Expression], topK: Int,
    blockFloor: Double, cutoff: Int, strictJ: Double) extends Expression {
  require(children.length == 9, "pair_evidence takes 9 column inputs")
  override def dataType: DataType = PairEvidenceExpr.schema
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else Expr0.pairEvidence(
      vs(0).asInstanceOf[ArrayData], vs(1).asInstanceOf[ArrayData],
      vs(2).asInstanceOf[Long], vs(3).asInstanceOf[ArrayData],
      vs(4).asInstanceOf[ArrayData], vs(5).asInstanceOf[ArrayData],
      vs(6).asInstanceOf[Long], vs(7).asInstanceOf[ArrayData],
      vs(8).asInstanceOf[Double], topK, blockFloor, cutoff, strictJ)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val gens = children.map(_.genCode(ctx))
    val rowCls = "org.apache.spark.sql.catalyst.InternalRow"
    val childCode = gens.map(_.code.toString).mkString("\n")
    val isNullInit =
      if (nullable) gens.map(_.isNull.toString).mkString(" || ") else "false"
    val call = s"graft.functions.Expr0.pairEvidence(" +
      gens.map(_.value.toString).mkString(", ") +
      s", $topK, ${blockFloor}D, $cutoff, ${strictJ}D)"
    val block =
      s"""
         |$childCode
         |boolean ${ev.isNull} = $isNullInit;
         |$rowCls ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  ${ev.value} = $call;
         |}
       """.stripMargin
    ev.copy(code = code"$block")
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PairEvidenceExpr =
    copy(children = newChildren)
  override def prettyName: String = "pair_evidence"
}

object PairEvidenceExpr {
  val schema: StructType = StructType(Seq(
    StructField("jaccard", DoubleType, nullable = false),
    StructField("jaccard_patch_topk", DoubleType, nullable = false),
    StructField("jaccard_patch_min", DoubleType, nullable = false),
    StructField("n_verified_blocks", IntegerType, nullable = false),
    StructField("simhash_dist", IntegerType, nullable = false),
    StructField("bundle_dist", IntegerType, nullable = false),
    StructField("need_span", BooleanType, nullable = false)))
}

/** sketch32(a): high-32 truncate + dedup of a sorted long array — the
  * verify payload-slimming projection as one codegen pass (see
  * Expr0.sketch32 for the equivalence to the former HOF chain). */
case class Sketch32Expr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ADT] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Expr0.sketch32(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Expr0.sketch32($c)")
  override protected def withNewChildInternal(c: Expression): Sketch32Expr = copy(c)
  override def prettyName: String = "sketch32"
}

/** blocks32(a): Sketch32 over each element of an array<array<long>>. */
case class Blocks32Expr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ADT] = Seq(ArrayType(ArrayType(LongType)))
  override def dataType: DataType =
    ArrayType(ArrayType(IntegerType, containsNull = false), containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Expr0.blocks32(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Expr0.blocks32($c)")
  override protected def withNewChildInternal(c: Expression): Blocks32Expr = copy(c)
  override def prettyName: String = "blocks32"
}

/** lcs_span_stats(head_a, head_b): the verify pass-2 span kernel as one
  * codegen'd expression — struct(max_span_len, span_frac, span_offset)
  * with the exact Java-String arithmetic of the former tuple14 map
  * (see Expr0.lcsSpanStats). */
case class LcsSpanStats(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ADT] = Seq(StringType, StringType)
  override def dataType: DataType = LcsSpanStats.schema
  override def nullSafeEval(a: Any, b: Any): Any =
    Expr0.lcsSpanStats(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Expr0.lcsSpanStats($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): LcsSpanStats =
    copy(left = l, right = r)
  override def prettyName: String = "lcs_span_stats"
}

object LcsSpanStats {
  val schema: StructType = StructType(Seq(
    StructField("max_span_len", IntegerType, nullable = false),
    StructField("span_frac", DoubleType, nullable = false),
    StructField("span_offset", IntegerType, nullable = false)))
}

/** Column-API facade + SQL registration for the custom expressions. */
object GraftFunctions {
  import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  import org.apache.spark.sql.graft.Bridge
  import org.apache.spark.sql.graft.Bridge.{column, expression}

  def simhash64(c: Column): Column = column(SimHash64(expression(c)))
  def minhash_sig(c: Column, k: Int = 5, numPerms: Int = 128, seed: Long = 123L): Column =
    column(MinHashSig(expression(c), k, numPerms, seed))
  def hamming64(a: Column, b: Column): Column =
    column(Hamming64(expression(a), expression(b)))
  def jaccard_sorted(a: Column, b: Column): Column =
    column(JaccardSortedExpr(expression(a), expression(b)))
  def dot_arr(a: Column, b: Column): Column =
    column(DotArr(expression(a), expression(b)))
  def norm_alnum(c: Column): Column = column(NormAlnum(expression(c)))
  def lower_prefix(c: Column): Column = column(LowerPrefix(expression(c)))
  def trigram_hashes(c: Column): Column = column(TrigramHashes(expression(c)))
  def minhash_est(a: Column, b: Column): Column =
    column(MinhashEstExpr(expression(a), expression(b)))
  def pack_low_bytes(c: Column): Column = column(PackLowBytes(expression(c)))
  def lsh_items(bands: Column, bundle: Column): Column =
    column(LshItemsExpr(expression(bands), expression(bundle)))
  def minhash_est8(a: Column, b: Column): Column =
    column(MinhashEst8Expr(expression(a), expression(b)))
  def hyperplane_sig(c: Column, nPlanes: Int = 8, seed: Long = 7L): Column =
    column(HyperplaneSig(expression(c), nPlanes, seed))
  def pair_evidence(skA: Column, blkA: Column, shA: Column, bunA: Column,
                    skB: Column, blkB: Column, shB: Column, bunB: Column,
                    est: Column, topK: Int, blockFloor: Double, cutoff: Int,
                    strictJ: Double): Column =
    column(PairEvidenceExpr(
      Seq(skA, blkA, shA, bunA, skB, blkB, shB, bunB, est).map(expression),
      topK, blockFloor, cutoff, strictJ))
  def lcs_span_stats(a: Column, b: Column): Column =
    column(LcsSpanStats(expression(a), expression(b)))
  def sketch32(c: Column): Column = column(Sketch32Expr(expression(c)))
  def blocks32(c: Column): Column = column(Blocks32Expr(expression(c)))

  /** The SQL function table, (name, usage, expression factory): the one
    * list both registration paths read — `inject` for the
    * `spark.sql.extensions` deploy path (graft.GraftExtensions) and
    * `register` for a running session — so a new function is a one-line
    * edit here. */
  val sqlFunctions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("simhash64", "simhash64(text) - 64-bit SimHash of normalized tokens",
      es => SimHash64(es.head)),
    ("hamming64", "hamming64(a, b) - popcount(a XOR b)",
      es => Hamming64(es(0), es(1))),
    ("jaccard_sorted", "jaccard_sorted(a, b) - exact Jaccard of sorted long arrays",
      es => JaccardSortedExpr(es(0), es(1))),
    ("minhash_sig", "minhash_sig(text) - MinHash signature at the fixed engine config",
      es => MinHashSig(es.head, 5, 128, 123L)),
    ("dot_arr", "dot_arr(a, b) - dot product of two float or double arrays",
      es => DotArr(es(0), es(1))),
    ("minhash_est", "minhash_est(a, b) - fraction of agreeing MinHash positions",
      es => MinhashEstExpr(es(0), es(1))),
    ("pack_low_bytes", "pack_low_bytes(array<long>) - low byte of each component as packed binary",
      es => PackLowBytes(es.head)),
    ("minhash_est8", "minhash_est8(a, b) - debiased 8-bit b-bit minwise estimate over packed signatures",
      es => MinhashEst8Expr(es(0), es(1))),
    ("hyperplane_sig", "hyperplane_sig(embedding) - sign-random-hyperplane LSH bucket (8 planes, seed 7)",
      es => HyperplaneSig(es.head, 8, 7L)))

  /** Inject every `sqlFunctions` entry into a `SparkSessionExtensions`. */
  def inject(ext: SparkSessionExtensions): Unit =
    sqlFunctions.foreach { case (name, usage, make) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""), make))
    }

  /** Register for SQL use in a running session: SELECT simhash64(text) FROM docs. */
  def register(spark: SparkSession): Unit = {
    val ext = new SparkSessionExtensions
    inject(ext)
    Bridge.applyFunctionInjections(ext, spark)
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import graft.functions.{Hashing, TextKernel}
import graft.model.{ConvDoc, DedupConfig, DocSig}

/**
 * Batched per-document signature kernel (SURVEY.md §2.3 X1-X3): ONE narrow
 * mapPartitions pass computes, per conversation document —
 *   - normalized text + token stream
 *   - word-k-gram shingle set (64-bit hashes)
 *   - MinHash signature (numPerms multiply-shift permutations)
 *   - LSH band keys
 *   - SimHash fingerprint + normalization-variant bundle (X3 analog of the
 *     reference's 8-transform pHash bundle, similarity_engine.py:325-356)
 *   - bottom-k shingle sketch + per-block sketches (verification payload)
 *   - capped head text (span evidence payload)
 *
 * The documents are not shuffled: signatures are pure functions of the
 * document. Permutation params are derived from (seed, perm index) on each
 * executor — never from task identity — so output is identical at any
 * parallelism (SURVEY.md §7 hard part (e)). The one cross-document field is
 * `doc_id` (see `docIds`): only the (conv_id, doc_id) table moves, and it
 * joins onto the documents where they already sit.
 */
object Signatures {

  /** A document with its dense id, the kernel's input row. */
  case class NumberedDoc(conv_id: String, doc_id: Long, n_turns: Int, doc_text: String)

  /** Dense doc ids: (conv_id, doc_id) with doc_id = the conv_id's rank in
    * SPARK's string order — a range-partitioned `orderBy` (UTF-8 byte
    * order; the JVM's UTF-16 `String` order differs wherever a
    * supplementary-plane character meets one in U+E000-U+FFFF), then
    * `zipWithIndex`. Eager: the sort's sampling job and zipWithIndex's
    * count job run here. The ids are a function of the set of conv_ids
    * only, so every execution of a plan over them gives the same ids.
    * Comparing two ids compares their conv_ids, which is what keeps every
    * sorted member list, bucket head, bridge and pair orientation of the
    * id-keyed LSH candidate join row-identical to the string-keyed one.
    * `convIds` must hold each conv_id once. */
  private[graft] def docIds(convIds: DataFrame): DataFrame = {
    val spark = convIds.sparkSession
    import spark.implicits._
    convIds.select(col("conv_id")).orderBy(col("conv_id")).as[String].rdd.zipWithIndex()
      .toDF("conv_id", "doc_id")
  }

  def compute(docs: Dataset[ConvDoc], cfg: DedupConfig): Dataset[DocSig] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val k = cfg.shingleK; val nPerms = cfg.numPerms
    val bands = cfg.bands; val rows = cfg.rows
    // fail at plan time with a clear message, not with an executor-side
    // ArrayIndexOutOfBounds inside mapPartitions: band b reads signature
    // positions [b*rows, (b+1)*rows) (the streaming path guards the same
    // invariant in bandRows)
    require(bands * rows <= nPerms,
      s"bands*rows = $bands*$rows = ${bands * rows} exceeds numPerms " +
        s"$nPerms — LSH band keys index signature positions up to bands*rows")
    val seed = cfg.minhashSeed
    val sketchK = cfg.sketchK; val nBlocks = cfg.numBlocks
    val blockK = cfg.blockSketchK; val headChars = cfg.headChars
    // SHUFFLE_HASH, build = the id table: the documents come out of
    // reassembly hash-partitioned on conv_id, so only the ids are shuffled
    // to them — the document text stays where it is
    val numbered = docs.join(docIds(docs.toDF()).hint("shuffle_hash"), "conv_id")
      .as[NumberedDoc]
    numbered.mapPartitions { it =>
      // per-partition init — computed once, identical everywhere
      val (pa, pb) = Hashing.minhashParams(nPerms, seed)
      it.map { d =>
        val norm = TextKernel.normalize(d.doc_text)
        // fused tokenize+hash: one UTF-8 pass, no per-token String/byte[]
        // (string re-hashing per signature dominated this stage's profile;
        // the per-token allocation churn was the next memory-bus cost)
        val th = TextKernel.tokenHashesFromNorm(norm)
        val shingles = TextKernel.shingleSetFromHashes(th, k)
        val sig = TextKernel.minhash(shingles, pa, pb)
        val bandKeys = TextKernel.bandKeys(sig, bands, rows)
        // variant bundle: (canonical, role-line-stripped, head-only, tail-only)
        // — normalization variants standing in for the reference's
        // rotation/mirror transform bundle. Head/tail votes are computed
        // once and SUMMED into the full-document votes (integer vote sums
        // over a range partition are exact), saving the third O(n·64) pass
        // and both half-array copies.
        val lines = norm // already role-free; variants over token windows:
        val nT = th.length
        val hLen = math.min(nT, math.max(1, nT / 2))
        val tStart = nT - hLen
        val vHead = new Array[Int](64)
        TextKernel.simhashVotes(th, 0, hLen, vHead)
        val vTail = new Array[Int](64)
        TextKernel.simhashVotes(th, tStart, nT, vTail)
        val vFull = new Array[Int](64)
        if (tStart >= hLen) {
          // disjoint head/tail: full = head + middle + tail
          var b = 0
          while (b < 64) { vFull(b) = vHead(b) + vTail(b); b += 1 }
          TextKernel.simhashVotes(th, hLen, tStart, vFull)
        } else {
          // nT <= 1: head and tail are both the whole array
          System.arraycopy(vHead, 0, vFull, 0, 64)
        }
        val sim = TextKernel.simhashFromVotes(vFull)
        val bundle = Array(sim,
          TextKernel.simhashFromVotes(vHead),
          TextKernel.simhashFromVotes(vTail),
          TextKernel.simhash64FromHashes(TextKernel.sortedDistinct(th)))
        // bottomK returns mixed+sorted values in BOTH size regimes
        val sketch = TextKernel.bottomK(shingles, sketchK)
        // per-block sketches: nBlocks equal token slices (patch grid analog)
        val blockSk = new Array[Array[Long]](nBlocks)
        var bi = 0
        while (bi < nBlocks) {
          val lo = (nT.toLong * bi / nBlocks).toInt
          val hi = (nT.toLong * (bi + 1) / nBlocks).toInt
          val bt = if (hi > lo) java.util.Arrays.copyOfRange(th, lo, hi)
                   else Array.empty[Long]
          val bs = TextKernel.shingleSetFromHashes(bt, k)
          blockSk(bi) = TextKernel.bottomK(bs, blockK)
          bi += 1
        }
        val head = if (lines.length <= headChars) lines else lines.substring(0, headChars)
        DocSig(d.conv_id, d.doc_id, d.n_turns, nT, sig, bandKeys, sim, bundle, sketch, blockSk, head)
      }
    }
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.model.DedupConfig

/**
 * Dedup / similarity operators over a generic document table
 * (doc_id, text) — the training-data-pipeline surface: exact dedup,
 * SimHash fingerprinting + near-pair scan, MinHash-LSH candidates.
 * Built on the custom Catalyst expressions (graft.functions.Expressions)
 * so the signature math runs inside whole-stage codegen.
 */
object DocDedup {

  /** Per-document SimHash fingerprint + LSH chunk keys (X2/X6 analog):
    * the 4×16-bit chunk decomposition is the classic simhash dedup
    * banding — hamming ≤ 3 guarantees ≥ 1 equal chunk (pigeonhole). */
  def simhashFingerprints(docs: DataFrame): DataFrame = {
    val sh = simhash64(col("text"))
    docs.select(col("doc_id"), sh.as("simhash"),
      (sh.bitwiseAND(lit(0xFFFFL))).as("chunk0"),
      (shiftright(sh, 16).bitwiseAND(lit(0xFFFFL))).as("chunk1"),
      (shiftright(sh, 32).bitwiseAND(lit(0xFFFFL))).as("chunk2"),
      (shiftright(sh, 48).bitwiseAND(lit(0xFFFFL))).as("chunk3"))
  }

  /** Per-occurrence token hashes under the exact simhash64 tokenizer
    * (normalize → whitespace tokens → xxh64 per occurrence) — graft.Verify
    * dumps these so `simhash_docs` can be DuckDB-oracled as a pure-SQL
    * replay of the 64-bit weighted bit-vote + chunk extraction. Verify-time
    * surface only (a UDF is fine off the hot path). */
  def simhashOracleTokens(docs: DataFrame): DataFrame = {
    val tokHashes = udf((text: String) =>
      graft.functions.TextKernel.tokenHashes(
        graft.functions.TextKernel.tokens(
          graft.functions.TextKernel.normalize(text))))
    docs.select(col("doc_id"), explode(tokHashes(col("text"))).as("th"))
  }

  /** Thorough-mode near-pair scan (J8 analog: unconditional O(n²) sweep,
    * gated to small corpora like the reference's whole-page scanner,
    * /root/reference/duplicate_detector/core/feature_scanner.py:10-87):
    * top-N closest pairs by SimHash Hamming distance. */
  def simhashNearPairs(docs: DataFrame, topN: Int = 20): DataFrame = {
    // materialize fingerprints once and spread the nested-loop stream side
    // across all cores — the doc table is typically ONE parquet split, which
    // would otherwise serialize the O(n²) sweep into a single task.
    // NOTE (optimization r06): the repartition must stay ABOVE the
    // fingerprint projection — the exchange boundary materializes the
    // computed simhash into the shuffled row. Spreading the scan first was
    // tried and REVERTED: with text crossing the exchange instead, codegen
    // defers simhash64 into the nested-loop pair loop (no boundary forces
    // it per-row) and the sweep re-hashes the full text per PAIR — a
    // measured 6× regression (0.37 s → 2.3 s warm at sf0.1).
    val spark = docs.sparkSession
    val f = simhashFingerprints(docs).select(col("doc_id"), col("simhash"))
      .repartition(spark.sparkContext.defaultParallelism)
    f.as("a").join(f.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming64(col("a.simhash"), col("b.simhash")).as("hamming"))
      .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
      .limit(topN)
  }

  /** MinHash-LSH candidate pairs over documents with word-3-gram shingles —
    * the standard shingle→minhash→band→bucket-join dedup. (Token-set k=1
    * shingles are useless here: these docs share vocabulary so heavily that
    * ~72% of ALL pairs exceed token-Jaccard 0.5, collapsing LSH to O(n²);
    * 3-gram Jaccard separates the planted near-dups (≈0.99) from the
    * background (<0.05), so the band join prunes like it should.) */
  /** The exact config minhashLshCandidates runs with — shared with the
    * oracle dump tables below so the DuckDB replay sees the same surface. */
  private[graft] val docLshCfg: DedupConfig =
    DedupConfig.balanced.copy(shingleK = 3, simThreshold = 0.5)

  private def docSigs(spark: SparkSession, docs: DataFrame) = {
    import spark.implicits._
    // spread the single parquet split BEFORE the signature kernel: the
    // shingle+minhash pass is the dominant compute here and would otherwise
    // run in one scan task (the doc text shuffled is a few MB — cheap).
    // Hashed on conv_id, so the kernel's doc-id join shuffles only the ids
    val asDocs = docs.select(col("doc_id").cast("string").as("conv_id"),
      lit(1).as("n_turns"), col("text").as("doc_text"))
      .repartition(spark.sessionState.conf.numShufflePartitions, col("conv_id"))
      .as[graft.model.ConvDoc]
    Signatures.compute(asDocs, docLshCfg)
  }

  def minhashLshCandidates(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    // the broadcast gate's doc count comes from the input table: the
    // signatures are not checkpointed, so counting them would run the
    // shingle+minhash kernel a second time (one signature row per document)
    LshJoin.candidates(docSigs(spark, docs), docLshCfg, nDocs = Some(docs.count()))
      .select($"conv_a".cast("long").as("doc_a"), $"conv_b".cast("long").as("doc_b"),
        round($"minhash_est", 6).as("minhash_est"), $"source")
  }

  /** Oracle dump tables: the signature surface the LSH candidate join
    * consumes — per-band keys, bundle variants, and the 8-bit signature
    * components the scoring join ships — so the ENTIRE join pipeline (band
    * collisions → min-band-hits prefilter → debiased b-bit estimate filter →
    * per-doc cap windows) can be replayed as pure SQL in DuckDB and compared
    * hash-exact against `minhash_docs_lsh`. */
  def minhashLshOracleTables(spark: SparkSession,
                             docs: DataFrame): Seq[(String, DataFrame)] = {
    // salt_h is computed over the STRING conv_id — the key the engine's
    // saltedBucketPairs actually hashes (docSigs casts doc_id to string).
    // localCheckpoint: FOUR dump tables project this one signature plan —
    // without it Verify re-executes the full shingle+minhash pass per
    // table (same ADVICE-r04 class as AnnIvf.oracleTables's fix)
    val sigs = docSigs(spark, docs).select(
        col("conv_id").cast("long").as("doc_id"),
        xxhash64(col("conv_id")).as("salt_h"),
        col("minhash"), col("bands"), col("simhash_bundle"))
      .localCheckpoint(true)
    Seq(
      "minhash_doc_bands" -> sigs.select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band_id", "band_key"))),
      // bkey = the mixed bucket key candidates groups variant rows on
      // (same xxhash64 call over the same exploded columns); salt_h lets
      // the replay sub-bucket over-cap buckets exactly like the engine
      "minhash_doc_variants" -> sigs.select(col("doc_id"),
          posexplode(col("simhash_bundle")).as(Seq("v_id", "v_hash")))
        .withColumn("bkey", xxhash64(col("v_id"), col("v_hash"))),
      "minhash_doc_salth" -> sigs.select(col("doc_id"), col("salt_h")),
      // the same low-byte truncation the scoring join packs (0-255 as int:
      // byte equality in the kernel ⟺ m8 equality here)
      "minhash_doc_sigs8" -> sigs
        .select(col("doc_id"), posexplode(col("minhash")).as(Seq("pos", "m64")))
        .select(col("doc_id"), col("pos"),
          col("m64").bitwiseAND(lit(255L)).cast("int").as("m8")))
  }

  /** Embedding LSH bucketing (random-hyperplane signs): bucket by sign
    * pattern, search within bucket only. Hyperplanes derived
    * deterministically from (seed, plane, dim) — no stored model. The
    * projection is ONE codegen'd expression (HyperplaneSig), not
    * nPlanes × dims interpreted element_at columns. */
  def embeddingLshBuckets(emb: DataFrame, nPlanes: Int = 12, seed: Long = 7L): DataFrame =
    emb.select(col("vec_id"), col("label"),
      hyperplane_sig(col("embedding"), nPlanes, seed).as("bucket"))

  /**
   * Bucketed ANN with multi-probe: cosine top-k searching the query's own
   * bucket plus (for probeRadius ≥ 1) every bucket at Hamming distance 1 —
   * candidate set per query ≈ (1+nPlanes)/2^nPlanes of the corpus.
   *
   * Quality contract (measured in AnnRecallSpec): sign-LSH retrieves
   * NEAR-DUPLICATE neighbors (cosine ≳ 0.9, the dedup regime — plane
   * agreement prob ≈ 0.93^8) with ≥ 0.9 recall at radius 1. It is NOT a
   * general top-k engine on near-orthogonal data (neighbor cosine ~0.3 →
   * per-plane agreement ~0.6 → vanishing bucket-collision probability);
   * use AnnIvf.annIvfTopK for general top-k at scale.
   */
  def annLshTopK(emb: DataFrame, k: Int = 5, nPlanes: Int = 8,
                 probeRadius: Int = 1, seed: Long = 7L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // raw float[] into dot_arr (exact per-element widening in-kernel, same
    // accumulation order as the former cast-to-double projection — half the
    // bytes through the bucket join)
    val withB = emb.select(col("vec_id"),
        hyperplane_sig(col("embedding"), nPlanes, seed).as("bucket"),
        col("embedding").as("e"))
      .withColumn("nrm", sqrt(dot_arr(col("e"), col("e"))))
    // NB: rename the join key on the query side — self-join column refs from
    // the same lineage resolve to one attribute id, silently degenerating the
    // bucket equi-join into a cross join (Spark warns "trivially true
    // equals predicate").
    val probes =
      if (probeRadius <= 0) array(col("bucket"))
      else transform(sequence(lit(0), lit(nPlanes)), i =>
        when(i === 0, col("bucket"))
          // 2^(i-1) via pow: exact in double for plane counts ≤ 53
          .otherwise(col("bucket").bitwiseXOR(pow(lit(2.0), i - 1).cast("long"))))
    val a = withB.select(col("vec_id").as("q_id"),
      explode(probes).as("q_bucket"), col("e").as("qe"), col("nrm").as("qn"))
    // each neighbor lives in exactly one bucket and probe buckets are
    // distinct, so no per-pair dedup is needed before ranking
    val pairs = a.join(withB, col("q_bucket") === col("bucket") &&
        col("q_id") =!= col("vec_id"))
      .withColumn("cos", dot_arr(col("qe"), col("e")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    pairs.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rnk"),
        round(col("cos"), 6).as("cosine"))
  }
}

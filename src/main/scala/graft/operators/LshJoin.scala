package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.{CandidatePair, DedupConfig, DocSig}

/**
 * LSH-banding candidate self-join (SURVEY.md §2.4 J3/J4) — the Spark
 * re-expression of the reference's hash-prefix bucketed pair generation
 * (/root/reference/ai_pdf_panel_duplicate_check_AUTO.py:4002-4069) and its
 * bundle variant (similarity_engine.py:468-583).
 *
 * Shape: explode band keys → eliminate singleton buckets → SALT over-cap
 * buckets into cap-sized sub-buckets (deterministic conv_id hash) → one
 * PARTNER-LIST row per member of each sorted, cap-bounded (bucket, salt)
 * member list (the members after it — the `a < b` upper triangle, emitted
 * by a generator; no self-join) + one bridge chain linking sub-bucket
 * representatives (so a salted mega-family still forms ONE connected
 * component downstream) → doc_a exchange of the lists → explode to pairs →
 * per-pair dedup keeping the lowest band id → join conv_ids and MinHash
 * sketches back per endpoint → estimate filter → per-doc output cap.
 *
 * Skew armor (the part the reference lacks — its giant-bucket loop at
 * ai_...AUTO.py:4037-4045 is O(bucket²) unconditionally):
 *   - over-cap buckets are never dropped: each member still meets O(cap)
 *     partners inside its salted sub-bucket, and bridges keep the bucket
 *     connected — worst-case pair fan-out per bucket is O(bucket·cap)
 *     instead of O(bucket²);
 *   - the SAME salt-and-cap discipline applies to the J4 bundle-variant
 *     path, so an m-member boilerplate family of identical conversations
 *     costs O(m·cap) pairs, not m²/2;
 *   - the output cap is PER DOCUMENT (reference analog
 *     TILE_MAX_TILES_PER_PANEL, tile_detection.py:36), not one global
 *     TakeOrderedAndProject funneling every pair through the driver: a pair
 *     survives if either endpoint ranks it in its top-maxPairsPerDoc by
 *     (bundle-evidence-first, estimate desc) — bundle/exact hits can never
 *     be evicted by a band flood of high-estimate LSH pairs.
 *
 * Scale discipline: the candidate join runs on DENSE DOC IDS. Every
 * signature row carries its 8-byte `doc_id`, the conv_id's rank in Spark's
 * own string order, fixed once when the signatures are computed
 * (`Signatures.docIds`), so this join ranks and joins nothing. Because the
 * ids follow the string order, every sorted member list, bucket head,
 * bridge orientation and `conv_a < conv_b` test gives what it gave on the
 * strings, and the output is row-identical. What each exchange ships:
 *   - ids only: the bucket-item exchange (bkey, doc_id, the conv_id's salt
 *     hash, band_id, src; never the signature arrays), the (bkey, salt)
 *     spread of the grouped `array<bigint>` member lists, the bridge
 *     window, and the doc_a exchange of the partner lists — the widest
 *     exchange of the stage, where a conv_id string used to repeat in
 *     every band the doc collides in;
 *   - when the (doc_id, conv_id, b-bit sketch) side of the scoring joins
 *     fits under the broadcast threshold (`sketchCapBytes` per document,
 *     ~135k documents at 64 MB): nothing else but ONE doc_b exchange of
 *     the scored pairs, ids and scalars only (doc_a, doc_b, estimate,
 *     band, one byte of source flags, the rk_a rank). Both sketch sides
 *     broadcast onto the pairs where the doc_a exchange left them, and the
 *     conv_ids come back from the broadcast side after the doc_b exchange;
 *   - otherwise, strings per DOCUMENT in the shuffled sketch side, and
 *     strings per PAIR in two pair exchanges: the doc_b spread carries
 *     conv_a and its sketch beside the ids, and the rk_a cap window ships
 *     the scored (pair_key, conv_a, conv_b) rows by conv_a.
 */
object LshJoin {

  // source codes kept as 1 byte through the list union + pair dedup agg
  // (strings there were measurable shuffle weight): bridge = base + 2
  private final val SrcLsh = 0
  private final val SrcBundle = 1

  /** The unified (band ∪ bundle-variant) bucket-item table the candidate
    * join buckets on — one codegen lsh_items generator pass over the sigs
    * checkpoint (see the provenance note in `candidates`). `sigs` needs
    * (doc_id, conv_id, bands, simhash_bundle); the conv_id leaves here as
    * its salt hash `salt_h`, so the items are (doc_id, salt_h, bkey,
    * band_id, src). Exposed for the bucket-phase plan dumps (the phase is
    * checkpointed inside saltedBucketPairs, so its plan is invisible from
    * the returned pairs) and the string-keyed spec reference. */
  private[graft] def itemsFor(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), xxhash64(col("conv_id")).as("salt_h"),
        explode(graft.functions.GraftFunctions.lsh_items(
          col("bands"), col("simhash_bundle"))).as("e"))
      .select(col("doc_id"), col("salt_h"), col("e.bkey").as("bkey"),
        col("e.band_id").as("band_id"), col("e.src").as("src"))

  /** The bucket phase's sized/salted/grouped member table — one row per
    * (bkey, salt) sub-bucket with the sorted, cap-bounded doc_id list.
    * Exposed un-checkpointed for plan dumps/specs (saltedBucketPairs
    * checkpoints it, which hides the plan from the returned Dataset). */
  private[graft] def groupedMembers(items: DataFrame, cap: Int,
                                    obs: Option[Observation]): DataFrame = {
    val parts = items.sparkSession.sessionState.conf.numShufflePartitions
    val itemsP = items.repartition(parts, col("bkey"))
    // buckets are source-homogeneous (disjoint key spaces), so min(src) is
    // the bucket's source; the observation reports the LSH band-bucket
    // funnel only — same counts the old per-rep-row window flags produced,
    // now over one row per bucket
    val sized = itemsP.groupBy(col("bkey")).agg(
      count(lit(1)).as("bsz"), min(col("src")).as("bsrc"))
    val sizedObs = obs.map(o => sized.observe(o,
        sum(when(col("bsrc") === SrcLsh, 1L).otherwise(0L)).as("total_buckets"),
        sum(when(col("bsrc") === SrcLsh && col("bsz") >= 2, 1L).otherwise(0L)).as("paired_buckets"),
        sum(when(col("bsrc") === SrcLsh && col("bsz") > cap, 1L).otherwise(0L)).as("salted_buckets")))
      .getOrElse(sized)
    // paired buckets only — the inner join below replicates the old
    // bsz >= 2 filter (singleton-bucket rows simply never match)
    val paired = sizedObs.filter(col("bsz") >= 2)
      .withColumn("n_salts", ceil(col("bsz").cast("double") / cap).cast("int"))
      .select(col("bkey").as("bkey_s"), col("n_salts"))
    // SHUFFLE_HASH, build = the paired-bucket table: both sides ride the
    // itemsP exchange (agg and probe distributions are satisfied by
    // HashPartitioning(bkey, parts)), so the join adds NO exchange and the
    // build map holds only paired buckets (|paired|/parts entries per task)
    val b2 = itemsP.join(paired.hint("shuffle_hash"), col("bkey") === col("bkey_s"))
      .withColumn("salt",
        when(col("n_salts") <= 1, lit(0))
          .otherwise(pmod(col("salt_h"), col("n_salts")).cast("int")))
      .select(col("doc_id"), col("bkey"), col("band_id"), col("src"), col("salt"))
    // Within-bucket member grouping — NOT a self-join. A (bkey, salt)
    // group is cap-bounded by construction, so its member list is a safe
    // in-task object (≤ ~cap ids). The groupBy rides the item
    // exchange's HashPartitioning(bkey) via the partitioning-subset rule,
    // so the whole bucket phase — sizing, salting, member grouping — is
    // ONE exchange wide. band_id/src are bucket-constant (band keys mix
    // the band index; variant keys mix v_id; key spaces disjoint whp), so
    // min() is the same provenance the old x-side projection carried.
    b2.groupBy(col("bkey"), col("salt"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"),
        min(col("band_id")).as("band_id"), min(col("src")).as("src"))
  }

  /**
   * One pass of bucket sizing + salting + within-bucket pairing + bridges
   * for BOTH sources at once. `items` must have (doc_id, salt_h, bkey:long,
   * band_id, src) where bkey is the fully mixed bucket key — band index
   * folded into LSH band keys, variant index mixed into bundle keys — so
   * the two key spaces never collide (whp) and one 8-byte grouping key
   * replaces per-source composite keys and per-source shuffle machinery
   * (running the sizing/join/self-join/bridge chain once, not twice, cut
   * measurable per-stage scheduling overhead from the candidate stage).
   * Emits (doc_a, partners, band_id, src) with every partner > doc_a and
   * `partners` non-empty — one row per bucket member that has a later
   * member, plus one single-partner row per bridge.
   *
   * Salt is keyed on the conv_id ONLY (its hash rides the items as
   * `salt_h`), so a mega-family sub-buckets identically in every band —
   * unique pair volume stays O(m·cap) across all bands rather than
   * O(m·cap·bands). Connectivity across sub-buckets comes from the bridge
   * chain: per over-cap bucket, the min member of each sub-bucket is
   * linked to the next sub-bucket's representative.
   */
  private def saltedBucketPairs(items: DataFrame, cap: Int,
                                obs: Option[Observation]): DataFrame = {
    // Bucket sizing (optimization r06, second rework): explicit
    // REPARTITION_BY_NUM exchanges of the id-only item table feed the two
    // consumers below — the bucket-size hash aggregate (build) and the salt
    // join probe. The former full-frame window
    // (count + min-rep over partitionBy(bkey)) buffered every item row
    // through ~one window GROUP PER ROW (buckets are overwhelmingly
    // singletons: 1.36M rows / 1.3M groups at the bench corpus) and was
    // measured ~10 s of the stage's task time; the aggregate computes the
    // same (bsz, src) per bucket in one hash pass, and the bsz ≥ 2 filter
    // then shrinks the JOIN BUILD SIDE to paired buckets only (a few % of
    // buckets), so the probe drops singleton rows exactly like the window's
    // filter did. An earlier agg+join attempt (round-6 batch 3) was
    // REVERTED because with the HOF item generator each branch re-ran the
    // interpreted transform chain; with the codegen lsh_items kernel the
    // duplicated generator pass is cheap (~2 s task time at the bench
    // corpus) and the agg branch's copy of this exchange column-prunes to
    // (bkey, src) — 12 B/row, NARROWER than a partial-agg row would be on
    // these ~all-distinct keys — so the two map passes together ship less
    // than the old single exchange plus its window pass cost
    // (plans/r06/pipeline_bucket_phase.txt pins the two-branch shape).
    //
    // Explicit-N (REPARTITION_BY_NUM) rather than an ENSURE_REQUIREMENTS
    // shuffle: AQE's coalescing floors partitions at minPartitionSize
    // (1 MB), so the ~27 MB item exchange at the bench corpus would run its
    // reduces in 16 tasks on 32 cores while per-row work dwarfs the bytes.
    // At 100-TB scale the exchange is far above the coalesce floor and the
    // plan is unchanged.
    //
    // The grouped member table is materialized EAGERLY (localCheckpoint —
    // the pipeline's stage idiom): it has TWO consumers, the pair
    // partner-list emission and the bridge chain, and collect_list is flagged
    // non-deterministic so its subtree can never canonicalize equal for
    // exchange reuse — un-checkpointed, the bridge branch re-ran the whole
    // sizing/salt/collect chain (measured ~5 s of duplicated task time per
    // run). The checkpoint is compact (one row per (bkey, salt); each
    // doc_id appears once per band) and disk-spillable; its blocks are
    // released by the ContextCleaner when the candidate Dataset is dropped.
    val grouped = groupedMembers(items, cap, obs).localCheckpoint(true)

    // Spread the cap-bounded groups before emission: the grouped
    // checkpoint preserves the bkey-only partition layout, which would
    // leave ALL sub-buckets of a mega-family in one task. This exchange
    // ships ONE compact row per (bkey, salt) (ids appear once) and restores
    // (bkey, salt)-granular parallelism, so a 10M-member family's rows
    // spread over m/cap tasks instead of one. The partition count is
    // EXPLICIT: AQE sizes coalescing on the exchange's input bytes, and
    // this input is far smaller than what the generator emits from it —
    // left to itself AQE convoys the emission onto a handful of tasks.
    val spread = grouped.repartition(
      items.sparkSession.sessionState.conf.numShufflePartitions,
      col("bkey"), col("salt"))
    // Partner lists, not pairs: one row per member of each sub-bucket,
    // carrying the members sorted after it (sorted members ⇒ every
    // partner > doc_a). The pairs are exploded only AFTER the doc_a
    // exchange in `candidates`, so the exchange ships O(Σ sub-bucket size)
    // rows instead of O(Σ sub-bucket size²): a template family collides in
    // almost every band, and one row per pair per band sent each of its
    // pairs across the exchange ~50 times (skewed_corpus seed 3: 1.92M pair
    // rows, 12 MB, became 26.9k list rows, 5 MB as conv_id strings).
    // posexplode + slice stay whole-stage-codegen (a flatten/transform
    // formulation was ~40% more task time).
    val inBucket = spread
      .select(col("band_id"), col("src"), col("members"),
        posexplode(col("members")).as(Seq("i", "doc_a")))
      .filter(col("i") < size(col("members")) - lit(1)) // last member: no partners
      .select(col("doc_a"),
        slice(col("members"), col("i") + lit(2),
          size(col("members")) - col("i") - lit(1)).as("partners"),
        col("band_id"), col("src"))

    // bridge chain: consecutive sub-bucket representatives of over-cap
    // buckets (n_salts-1 extra rows per bucket — O(bsz/cap), negligible),
    // each a one-partner list. The rep of a sub-bucket is the head of its
    // sorted member list, and its bridge partner is the NEXT salt's rep — a
    // lead() window directly over the CHECKPOINTED `grouped` table: the
    // window's bkey exchange over one-row-per-sub-bucket input is
    // negligible, and the checkpoint means this second consumer re-runs
    // nothing. No over-cap filter is needed: a bucket with a single
    // sub-bucket has no lead partner and emits nothing.
    val head = element_at(col("members"), 1)
    val bridges = grouped
      .withColumn("next_doc", lead(head, 1).over(
        Window.partitionBy(col("bkey")).orderBy(col("salt"))))
      .filter(col("next_doc").isNotNull)
      .select(
        least(head, col("next_doc")).as("doc_a"),
        array(greatest(head, col("next_doc"))).as("partners"),
        col("band_id"), (col("src") + lit(2)).as("src"))

    inBucket.unionByName(bridges)
  }

  /**
   * Candidate pairs from MinHash LSH banding, plus exact variant-fingerprint
   * collisions (J4 analog: any shared simhash-bundle variant is a candidate).
   *
   * Not lazy: the bucket phase (items → sizing → salting → member lists)
   * runs EAGERLY inside this call (see the checkpoint in
   * saltedBucketPairs), so each call costs that job — build the Dataset
   * once and reuse it. The returned plan starts at that checkpoint:
   * partner lists of doc ids → ONE doc_a exchange → explode to pairs →
   * dedup agg → scoring joins (which bring the conv_ids back) → cap
   * windows. The doc ids are the signatures' own (`DocSig.doc_id`).
   *
   * `nDocs`: the row count of `sigs` when the caller already has it; it
   * sizes the scoring joins' sketch side against the broadcast threshold
   * (see `scorePairs`). Without it, `sigs` is counted here, so every caller
   * takes the same branch for the same input.
   *
   * `bucketObs` (optional) receives (total_buckets, paired_buckets,
   * salted_buckets) of the LSH band table — the A4 funnel stats the
   * reference logs as its O(n²)→O(Σb²) reduction. It fires on the eager
   * bucket-phase job, before this method returns; the metrics arrive
   * through an async listener, so readers must still wait on its future.
   */
  def candidates(sigs: Dataset[DocSig], cfg: DedupConfig,
                 bucketObs: Option[Observation] = None,
                 nDocs: Option[Long] = None): Dataset[CandidatePair] = {
    val spark = sigs.sparkSession
    import spark.implicits._

    // band keys already mix the band index (TextKernel.bandKeys), so the
    // 8-byte key alone identifies the bucket; band_id rides along for
    // min-band provenance only. The J4 bundle path (exact collisions of any
    // normalization-variant fingerprint — an uncapped variant self-join
    // would be m²/2 on template families, the most likely blowup at 100 TB)
    // shares the SAME sized/salted bucket pass via a disjoint key space.
    // Both item sources explode out of ONE pass over the sigs checkpoint
    // (optimization r06): the former bandItems ∪ variantItems union read —
    // and decoded — the signature blocks twice and scheduled two map
    // stages into the bucket exchange; one generator halves both. The item
    // struct array comes from the codegen lsh_items kernel (one tight loop
    // per doc) rather than the explode(concat(transform×2)) chain, whose
    // HOF lambdas ran interpreted per element AND blocked exchange reuse
    // across the sizing aggregate's two reads (fresh lambda exprIds never
    // canonicalize). Rows and values are identical (same keys — variant
    // bkey reproduces Spark's xxhash64(v_id, v_hash) bit-for-bit, spec-
    // pinned — same ids, same src codes).
    val lists = saltedBucketPairs(itemsFor(sigs.toDF()), cfg.bandBucketCap, bucketObs)

    // Exchange discipline: ONE explicit hash repartition on doc_a ships the
    // partner lists; the pairs are exploded after it. The generator keeps
    // HashPartitioning(doc_a), which satisfies clustering on
    // (doc_a, doc_b) (partitioning-subset rule), so the pair dedup and the
    // doc_a sketch join — and with a broadcast sketch side the rk_a cap
    // window too — ride that exchange without re-shuffling; the rk_b cap
    // window rides the doc_b exchange. Each extra sequential pair-table
    // shuffle adds a driver stage-scheduling gap, measured serial residue
    // in the 2→8 scaling budget.
    // Explicit-N on every pair-table exchange in this chain (here, the
    // doc_b spread, and the shuffled plan's rk_a spread): a keyed repartition
    // without N is REPARTITION_BY_COL, which AQE coalesces by BYTES (1 MB
    // floor) — the 14-23 MB pair exchanges at the bench corpus then ran
    // their reduces in 14-16 tasks on 32 cores while per-row work (pair
    // hashing, b-bit estimates, window sorts) dwarfs the bytes.
    // Pinning at the data-sized count keeps the reduces full-width; at
    // 100-TB scale these exchanges exceed the coalesce floor anyway.
    val parts = spark.sessionState.conf.numShufflePartitions
    // explode_OUTER: every partner list is non-empty and non-null (the map
    // side drops each sub-bucket's last member; a bridge has one partner),
    // so it emits the same rows as explode — but a plain explode makes
    // Catalyst infer size(partners) > 0 and push it through the exchange
    // and the union into the map side, where it re-evaluated every
    // member's slice a second time just to test it.
    val pairRows = lists
      .repartition(parts, $"doc_a")
      .select($"doc_a", explode_outer($"partners").as("doc_b"), $"band_id", $"src")
      // defense-in-depth (ADVICE r04): a doc is unique per bucket by key
      // construction, but if a 64-bit band/variant key ever collided for
      // the SAME doc, sorted-adjacent duplicates in `members` would yield a
      // self-pair here (or a degenerate bridge) — keep a < b explicit
      .filter($"doc_a" =!= $"doc_b")
    scorePairs(pairRows, sketches(sigs.toDF()), cfg,
      broadcastSketches = Adaptive.fits(spark, nDocs.getOrElse(sigs.count()), sketchCapBytes(cfg)))
  }

  /** Upper bound on one document's bytes in a broadcast hash relation of
    * the (doc_id, conv_id, mhb) sketch side, whichever of its columns a
    * scoring join keeps. The relation is a long-keyed map: per row, the
    * UnsafeRow (8 B null bitset + 3 field words + the id, 64 B, + the
    * sketch's numPerms packed bytes) and an 8 B chain word, in a page
    * that grows by doubling, plus up to 32 B of slot array (2 longs per
    * slot, ≤ 2 slots per key). 496 B for `balanced`; measured `dataSize`
    * 176-344 B per row at 20k-250k rows (local[4], 9- and 21-char ids; the
    * peak is a page just past a doubling). */
  private[graft] def sketchCapBytes(cfg: DedupConfig): Long = {
    val sketch = (cfg.numPerms + 7L) / 8 * 8
    2 * ((8 + 3 * 8 + 64 + sketch) + 8) + 32
  }

  /** The scoring joins' per-document side: (doc_id, conv_id, mhb), mhb =
    * the 8-bit sketch of the MinHash signature, its packed low bytes (see
    * `scorePairs`). */
  private[graft] def sketches(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("conv_id"),
      graft.functions.GraftFunctions.pack_low_bytes(col("minhash")).as("mhb"))

  /**
   * The candidate tail over pair rows (doc_a < doc_b, band_id, src) — one
   * row per colliding band/variant/bridge — shared by `candidates` and the
   * parity spec's naive per-pair enumeration: pair dedup → min-band-hits
   * prefilter → b-bit scoring joins → estimate filter → per-doc cap.
   * `keyed` is the (doc_id, conv_id, mhb) side (`sketches`); the two
   * scoring joins bring the conv_ids back from it, so the tail's key type
   * is the caller's: `candidates` passes dense ids, the spec's reference
   * passes the conv_ids themselves as doc_id. `broadcastSketches` picks
   * the plan: both sides broadcast and one id-only doc_b exchange, or both
   * sides shuffled and two pair exchanges (doc_b, then conv_a). Either
   * gives the same rows.
   */
  private[graft] def scorePairs(pairRows: DataFrame, keyed: DataFrame,
                                cfg: DedupConfig,
                                broadcastSketches: Boolean = false): Dataset[CandidatePair] = {
    val spark = pairRows.sparkSession
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions

    // Pair dedup + the MIN-BAND-HITS prefilter. With b=64/r=2 banding the
    // weakest detectable transform (J ≈ 0.42) collides in ~11 bands, while
    // sub-threshold background pairs (J ≈ 0.1) expect 0.64 — requiring ≥2
    // distinct band collisions for LSH-only pairs removes the ~65% one-hit
    // majority BEFORE the signature join ships two truncated signatures per
    // pair (measured: 2.13M → 0.74M pairs at 40k docs; the est join was
    // the candidate stage's dominant shuffle). Bundle hits (exact-variant
    // evidence) and salted-bucket bridges (connectivity) are exempt. The
    // provenance leaves the agg as ONE byte of source flags (1 = lsh,
    // 2 = bundle, 4 = bridge); the `source` string is spelled out of it
    // only in the output projection, so no exchange below ships it.
    val uniquePairs = pairRows
      .groupBy($"doc_a", $"doc_b")
      .agg(min($"band_id").as("band_id"),
        sum(when($"src" === SrcLsh, 1L).otherwise(0L)).as("lsh_hits"),
        max(when($"src" === SrcBundle || $"src" === SrcBundle + 2, 2).otherwise(0)).as("bundle"),
        max(when($"src" >= 2, 4).otherwise(0)).as("bridge"))
      .filter($"bundle" > 0 || $"bridge" > 0 || $"lsh_hits" >= cfg.minBandHits)
      .select($"doc_a", $"doc_b", $"band_id",
        (when($"lsh_hits" > 0, 1).otherwise(0) + $"bundle" + $"bridge").cast("byte").as("srcs"))
    // bundle or bridge evidence
    val exempt = $"srcs" >= 2

    // Signatures join in only now — per unique pair, not per band row — and
    // as b-bit minwise components (Li & König WWW 2010): packed LOW BYTES
    // ship as ONE binary of numPerms bytes per endpoint — a QUARTER of a
    // 32-bit array<int>, which was the candidate stage's attributed byte
    // wall (the conv_b exchange ships one signature per surviving pair:
    // measured 803 MB at 100k convs with 32-bit components, with
    // taskTime/cpuTime ≈ 2.3 memory-stall inflation). A position
    // false-matches with p = 2⁻⁸; the estimator is DEBIASED inside
    // minhash_est8 so minhash_est still estimates J and downstream
    // thresholds keep their meaning. LOW bits are kept (robust even for
    // low-entropy integer inputs, where high bits are constant).
    // F1 threshold predicate; bundle hits always survive (exact-dup path),
    // and so do BRIDGES — a bridge is the only connectivity between the
    // salted sub-buckets of an over-cap family (salt is conv_id-keyed, so
    // cross-sub-bucket pairs never form in any band); dropping a low-
    // estimate bridge would split a near-dup mega-family into one cluster
    // per sub-bucket — precisely the 100-TB case salting exists for
    def scored(joined: DataFrame): DataFrame = joined
      .withColumn("minhash_est", graft.functions.GraftFunctions.minhash_est8(col("ma"), col("mb")))
      .filter($"minhash_est" >= cfg.simThreshold || exempt)

    // F4 output cap, PER DOCUMENT (CLIP_MAX_OUTPUT_PAIRS re-scoped to the
    // TILE_MAX_TILES_PER_PANEL per-item shape): keep a pair if either
    // endpoint ranks it top-k by (bundle-first, estimate desc, pair_key).
    // Bundle pairs rank 1.0 ≥ any estimate, so exact-dup evidence is never
    // evicted by a band flood; bridges rank 1.0 too — they are O(bsz/cap)
    // rows per over-cap bucket (negligible volume) and carry the family's
    // connectivity, so a busy representative must never evict one. Two
    // hash-partitioned window passes — no global sort, no driver funnel,
    // plan survives 100× corpus growth.
    //
    // Tiebreaks: within one conv_a, pair_key = "conv_a|conv_b" orders as
    // conv_b does (a shared prefix, then conv_b's bytes), and the doc ids
    // follow the same UTF-8 order, so rk_a may order by doc_b. Within one
    // conv_b the prefix is conv_a, and "conv_a|" does NOT order as conv_a
    // when one id is a prefix of another ("a" < "ab", but "ab|x" <
    // "a|x": 'b' sorts before '|'), so rk_b orders by the pair_key string.
    val k = cfg.maxPairsPerDoc
    val rankScore = greatest($"minhash_est", when(exempt, lit(1.0)).otherwise(lit(0.0)))
    val wB = Window.partitionBy($"doc_b").orderBy(rankScore.desc, $"pair_key")
    val pairKey = concat($"conv_a", lit("|"), $"conv_b")
    val ranked =
      if (broadcastSketches) {
        // The (doc_id, conv_id, mhb) side fits (see `sketchCapBytes`): both
        // sketch sides BROADCAST onto the pair stream where the partner-list
        // exchange left it, hash-partitioned on doc_a, so the estimate, the
        // filter and the rk_a window run with no exchange. ONE explicit-N
        // doc_b exchange then ships ids and scalars only — no sketch, no
        // conv_id, no pair_key — and the conv_ids come back from the
        // broadcast side after it for rk_b and the output. The two sketch
        // broadcasts and the two conv_id broadcasts are each one relation
        // (aliases aside, the sides are the same plan).
        def side(s: String, c: String, as: String) =
          broadcast(keyed.select($"doc_id".as(s"doc_$s"), col(c).as(as)))
        scored(uniquePairs.join(side("a", "mhb", "ma"), "doc_a")
            .join(side("b", "mhb", "mb"), "doc_b"))
          .withColumn("rk_a", row_number().over(
            Window.partitionBy($"doc_a").orderBy(rankScore.desc, $"doc_b")))
          .select($"doc_a", $"doc_b", $"minhash_est", $"band_id", $"srcs", $"rk_a")
          .repartition(parts, $"doc_b") // pinned-width doc_b spread (see candidates)
          .join(side("a", "conv_id", "conv_a"), "doc_a")
          .join(side("b", "conv_id", "conv_b"), "doc_b")
          .withColumn("pair_key", pairKey)
          // the doc_b exchange partitions the pairs: sort-only window
          .withColumn("rk_b", row_number().over(wB))
      } else {
        // SHUFFLE_HASH on the signature side: a sort-merge join must SORT
        // the fat (pair+signature) stream — measured 2.1 GB of sort spill at
        // 100k docs — while a shuffled hash join builds its map on the
        // narrow signature shard (|docs|·~550 B / shuffle-partition, the
        // quantity shuffle.partitions is sized by at scale) and streams the
        // fat side unsorted; the join's hash partitioning still feeds the
        // rk_b window. The rk_a window then needs a conv_a exchange of the
        // scored rows: two pair exchanges. The broadcast branch's order of
        // joins would need more here: every shuffled join on the other
        // endpoint re-partitions the pairs.
        def side(s: String) = keyed.select($"doc_id".as(s"doc_$s"),
          $"conv_id".as(s"conv_$s"), $"mhb".as(s"m$s")).hint("shuffle_hash")
        scored(uniquePairs.join(side("a"), "doc_a")
            .repartition(parts, $"doc_b") // pinned-width doc_b spread (see candidates)
            .join(side("b"), "doc_b"))
          .withColumn("pair_key", pairKey)
          // rk_b first: the doc_b sketch join leaves the pair table
          // hash-partitioned on doc_b, so this window is sort-only
          .withColumn("rk_b", row_number().over(wB))
          .drop("doc_b")
          .repartition(parts, $"conv_a") // pinned-width rk_a spread (see candidates)
          .withColumn("rk_a", row_number().over(
            Window.partitionBy($"conv_a").orderBy(rankScore.desc, $"pair_key")))
      }
    ranked
      .filter($"rk_a" <= k || $"rk_b" <= k)
      .select($"pair_key", $"conv_a", $"conv_b", $"minhash_est",
        $"band_id".cast("int").as("band_id"),
        // deterministic provenance string (collect_set ordering is not)
        concat_ws("+",
          when($"srcs".bitwiseAND(1) =!= 0, "lsh"),
          when($"srcs".bitwiseAND(2) =!= 0, "bundle"),
          when($"srcs".bitwiseAND(4) =!= 0, "bridge")).as("source"))
      .as[CandidatePair]
  }

  /**
   * F2 same/adjacent-group suppression (configurable, default OFF exactly
   * like the reference — /root/reference/ai_pdf_panel_duplicate_check_AUTO
   * .py:133-137, implementation :3301-3332): drop candidate pairs whose
   * endpoints' group ordinals are within `gap` of each other (gap 0 = only
   * same-group suppressed; gap 1 also suppresses adjacent groups — the
   * reference's same_page/adjacent_pages knobs). `groups` maps
   * (conv_id, group_id:long) — e.g. source shard, session bucket, page.
   * Ungrouped conversations are never suppressed.
   */
  def suppressGroups(pairs: Dataset[CandidatePair], groups: DataFrame,
                     gap: Int = 0): Dataset[CandidatePair] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // one group per conv: a caller-supplied duplicate conv_id row would
    // otherwise MULTIPLY surviving pairs through the two left joins
    val g1 = groups.select(col("conv_id"), col("group_id"))
      .dropDuplicates("conv_id")
    pairs.toDF()
      .join(g1.select(col("conv_id").as("conv_a"), col("group_id").as("grp_a")),
        Seq("conv_a"), "left")
      .join(g1.select(col("conv_id").as("conv_b"), col("group_id").as("grp_b")),
        Seq("conv_b"), "left")
      .filter($"grp_a".isNull || $"grp_b".isNull || abs($"grp_a" - $"grp_b") > gap)
      .select($"pair_key", $"conv_a", $"conv_b", $"minhash_est", $"band_id", $"source")
      .as[CandidatePair]
  }

  /** The signature surface `candidates` consumes, exploded to scalar rows —
    * per-band keys, bundle-variant fingerprints, and the 8-bit signature
    * components the scoring join ships — so the ENTIRE candidate join (band
    * collisions → min-band-hits prefilter → debiased b-bit estimate filter →
    * per-doc cap windows) can be replayed as pure SQL in DuckDB and compared
    * hash-exact against `flag_dedup_candidates` (graft.Verify dumps these
    * next to the query outputs; the docs-table twin is
    * DocDedup.minhashLshOracleTables). m8 = low byte as 0-255 int: byte
    * equality in the packed kernel ⟺ (m64 & 255) equality here. */
  def oracleSurface(sigs: Dataset[DocSig]): Seq[(String, DataFrame)] = Seq(
    "pipe_bands" -> sigs.select(col("conv_id"),
      posexplode(col("bands")).as(Seq("band_id", "band_key"))),
    // bkey = the mixed bucket key `candidates` actually groups on (same
    // xxhash64 call over the same exploded columns) — dumped so the replay
    // can size/salt variant buckets in the SAME key space as the engine
    "pipe_variants" -> sigs.select(col("conv_id"),
        posexplode(col("simhash_bundle")).as(Seq("v_id", "v_hash")))
      .withColumn("bkey", xxhash64(col("v_id"), col("v_hash"))),
    // per-conv salt hash: saltedBucketPairs assigns an over-cap bucket's
    // member to sub-bucket pmod(xxhash64(conv_id), n_salts) — dumping the
    // hash (not the salt, which depends on per-bucket n_salts) lets SQL
    // reproduce the full salted enumeration + bridge chain at any corpus
    // size, instead of assuming the no-salt regime
    "pipe_salth" -> sigs.select(col("conv_id"),
      xxhash64(col("conv_id")).as("salt_h")),
    "pipe_sigs8" -> sigs
      .select(col("conv_id"), posexplode(col("minhash")).as(Seq("pos", "m64")))
      .select(col("conv_id"), col("pos"),
        col("m64").bitwiseAND(lit(255L)).cast("int").as("m8")))
}

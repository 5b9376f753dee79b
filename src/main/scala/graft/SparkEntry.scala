package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.DedupConfig
import graft.operators._
import graft.sources.ConversationGen

/**
 * Driver contract: flagship entry + per-operator query battery + DuckDB
 * oracle SQL. Query names map to the SURVEY.md §2 operator inventory (the
 * id in each comment). Oracled queries are float-safe: double aggregation
 * goes through per-row decimal casts (exact, order-independent sums) and
 * rounded outputs, so Spark and DuckDB hash-match bit-for-bit.
 */
object SparkEntry {

  /** Table read through the IO seam: plain dirs → parquet (testdata layout);
    * an "iceberg:catalog.ns" spec routes to the Iceberg catalog provider. */
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.TableIO.forSpec(dir).read(spark, name)

  // ---- shared text normalization (F5/X7): identical in Spark + DuckDB ----
  // norm_alnum is the exact codegen twin of
  // trim(regexp_replace(lower(c), "[^a-z0-9]+", " ")) — see Expr0.normAlnum
  // for the equivalence argument; swapping it kept every oracle hash green
  // while removing java.util.regex (and its ~1.3 s session-first-use
  // warmup) from the bench-executed normalization paths.
  private def normText(c: Column): Column =
    graft.functions.GraftFunctions.norm_alnum(c)
  private val normSql =
    "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"

  /** Shingle document-frequency cap for the n-gram Jaccard join (applied
    * identically in Spark and the DuckDB oracle). */
  private val ShingleDfCap = 64

  // ---- memoized dedup pipeline per (session, sf dir) ---------------------
  // Keyed by the SESSION OBJECT itself (reference equality), not
  // System.identityHashCode: identity hashes are not unique, and after a
  // memoized session is released a colliding new session could otherwise
  // be served another session's cached Result (Datasets bound to foreign
  // sessionState). The key pins the session no more than the cached
  // Datasets already do; application-end eviction clears both.
  private val pipeCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Pipeline.Result]()
  private val corpusCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), org.apache.spark.sql.Dataset[graft.model.Turn]]()

  // Memo lifetime = the SparkContext's: when the application ends, every
  // cached block and checkpoint RDD dies with the context, so the map
  // entries (which would otherwise pin dead Dataset objects in a long-lived
  // multi-session JVM) are evicted by an application-end listener registered
  // on first memo use (re-registered if a new context appears).
  private[graft] val memoListener = new org.apache.spark.scheduler.SparkListener {
    override def onApplicationEnd(
        e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = evictMemos()
  }
  private[graft] def evictMemos(): Unit = {
    pipeCache.clear(); corpusCache.clear(); jacCache.clear()
  }
  private[graft] def memoSize: Int =
    pipeCache.size + corpusCache.size + jacCache.size
  @volatile private var hookedAppId: String = null
  private def memoKey(spark: SparkSession, sfDir: String): (SparkSession, String) = {
    val appId = spark.sparkContext.applicationId
    if (hookedAppId != appId) synchronized {
      if (hookedAppId != appId) {
        spark.sparkContext.addSparkListener(memoListener)
        hookedAppId = appId
      }
    }
    (spark, sfDir)
  }

  /** Synthetic transcript corpus, generated once per (session, sf dir) and
    * persisted — production reads a table once; queries share it. */
  def corpusFor(spark: SparkSession, sfDir: String): org.apache.spark.sql.Dataset[graft.model.Turn] =
    corpusCache.computeIfAbsent(memoKey(spark, sfDir),
      _ => ConversationGen.corpus(spark, specFor(sfDir)).persist())

  /** Synthetic transcript corpus scale tied to the sf dir (BASELINE input_hint
    * table is synthesized — no conversations table exists in testdata). */
  def specFor(sfDir: String): ConversationGen.CorpusSpec =
    if (sfDir.contains("0.001")) ConversationGen.smoke
    else if (sfDir.contains("0.1")) ConversationGen.CorpusSpec(20000, 60, 400)
    else ConversationGen.CorpusSpec(1000, 12, 60)

  def pipelineFor(spark: SparkSession, sfDir: String): Pipeline.Result =
    pipeCache.computeIfAbsent(memoKey(spark, sfDir), _ => {
      Pipeline.runPipelined(corpusFor(spark, sfDir), DedupConfig.balanced)
    })

  /** n-gram Jaccard pair table, memoized per (session, sf dir) like the
    * corpus/pipeline: the shingle-explode self-join DAG feeds BOTH
    * ngram_jaccard_pairs and mutual_nn (which consumes it 4×) — a
    * deliberate session-scoped shared result (the materialized table is
    * tiny; what's cached is the expensive join's output), distinct from
    * the per-invocation intermediates mutual_nn releases after use. */
  private val jacCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def jaccardPairsFor(spark: SparkSession, sfDir: String): DataFrame =
    jacCache.computeIfAbsent(memoKey(spark, sfDir),
      _ => ngramJaccard(spark, sfDir).localCheckpoint(true))

  /** n-gram Jaccard theta self-join (J3 candidate join, exact small-n path).
    * Skew armor: the equi-join is O(Σ df²) over shingle document
    * frequencies — one stop-phrase shared by every doc degenerates it to
    * O(n²) — so shingles with df > 64 are excluded from the INTERSECTION
    * (doc sizes still count all shingles; the oracle applies the identical
    * cap). Same singleton/cap discipline as the LSH band join.
    *
    * Shape (optimization r06, guide §2.3/§2.4): shingles travel as 8-byte
    * xxhash64 of the token triple instead of the concatenated trigram
    * string (hash distinctness ⟺ string distinctness — token triple →
    * trigram string is injective, so intersection counts change only on a
    * 64-bit collision between distinct trigrams, p ≈ n²·2⁻⁶⁵; the DuckDB
    * string replay stays hash-exact), the df count rides a window over ONE
    * shingle exchange whose partitioning the per-shingle groupBy then
    * reuses, and pairs come from grouped enumeration over the df-capped
    * member list (the LshJoin idiom) instead of a second full self-join
    * shuffle. The single-file doc scan is spread before the tokenizer so
    * the normalize+split+hash work parallelizes instead of running in one
    * scan task. */
  private def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val parts = s.sessionState.conf.numShufflePartitions
    // distinct trigram hashes via ONE codegen kernel call per doc
    // (trigram_hashes = fused tokenize+hash+shingle+dedup): the former
    // transform(sequence, xxhash64(element_at×3)) + array_distinct chain
    // ran as interpreted per-element lambdas — measured ~10× this kernel —
    // and made every re-evaluation of the generator subtree expensive
    val base = t(s, d, "documents").select($"doc_id", $"text")
      .repartition(parts)
      .select($"doc_id",
        graft.functions.GraftFunctions.trigram_hashes(normText($"text")).as("ga"))
    val grams = base.select($"doc_id", explode($"ga").as("sh"))
    // per-doc distinct-shingle count straight off the array — the former
    // grams.groupBy(doc_id).count paid an exchange + agg for a value the
    // generator's child already holds (n = 0 rows simply never match the
    // inner joins below, exactly like their absence from the old count)
    val sz = base.select($"doc_id", size($"ga").cast("long").as("n"))
    // df via hash aggregate + co-partitioned join-back (optimization r06,
    // same rework as the LSH bucket phase): the former full-frame window
    // buffered every gram row through ~one window group per row (shingles
    // are overwhelmingly df=1), while the aggregate counts them in one
    // hash pass and its df∈[2,cap] output becomes the SHUFFLE_HASH build
    // side — the inner join drops singleton-shingle rows exactly like the
    // window's filter did, and the member groupBy rides the explicit gram
    // exchange. The duplicated generator branch (the agg side re-runs the
    // codegen trigram kernel over the docs scan) is ~0.1 s — the kernel
    // already re-runs for the doc-size branches below, by design.
    val gramsP = grams.repartition(parts, $"sh")
    val dfTbl = gramsP.groupBy($"sh").agg(count(lit(1)).as("df"))
      .filter($"df" >= 2 && $"df" <= ShingleDfCap)
      .select($"sh".as("sh_d"))
    val rare = gramsP.join(dfTbl.hint("shuffle_hash"), $"sh" === $"sh_d")
      .groupBy($"sh").agg(sort_array(collect_list($"doc_id")).as("ds"))
    // sorted members ⇒ enumerating j > i yields doc_a < doc_b directly
    val inter = rare
      .select(posexplode($"ds").as(Seq("i", "doc_a")), $"ds")
      .select($"doc_a", explode(slice($"ds", $"i" + lit(2),
        size($"ds") - $"i" - lit(1))).as("doc_b"))
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
      .join(sz.select($"doc_id".as("doc_b"), $"n".as("nb")), "doc_b")
      .withColumn("jac", $"inter".cast("double") / ($"na" + $"nb" - $"inter"))
      .filter($"jac" >= 0.05)
      .select($"doc_a", $"doc_b", round($"jac", 6).as("jaccard"))
  }

  /** Flagship: full dedup pipeline (reassembly → MinHash/LSH → verify →
    * tiers) on the smoke corpus; rows > 0 because planted dups are found. */
  def entry(spark: SparkSession): DataFrame =
    pipelineFor(spark, "/root/testdata/sf0.001").tiered.toDF()

  // =======================================================================
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- flagship dedup pipeline over synthesized transcripts (no SQL
    //      oracle — MinHash/LSH not expressible in DuckDB; rows-only) -----
    "flag_dedup_candidates" -> ((s, d) => pipelineFor(s, d).candidates.toDF()), // J3/J4
    "flag_dedup_verified" -> ((s, d) => pipelineFor(s, d).verified.toDF()),     // J5/X8/X15
    // clip_z is rounded to 6 in the REPORT output only (gating uses the raw
    // value): the DuckDB oracle recomputes mu/sigma from the verified dump,
    // and stddev merge order differs at the ulp level between engines —
    // round-6 on both sides absorbs it (float-safe compare discipline)
    "flag_dedup_tiers" -> ((s, d) => pipelineFor(s, d).tiered.toDF()            // T1/T2/X12
      .withColumn("clip_z_analog", round(col("clip_z_analog"), 6))),
    "flag_dedup_clusters" -> ((s, d) => pipelineFor(s, d).clusters.toDF()),     // §2.12 CC
    "flag_run_metrics" -> ((s, d) => {                                          // S5/A4
      import s.implicits._
      s.createDataset(pipelineFor(s, d).metrics).toDF()
        .select($"stage", $"input_count", $"output_count")
    }),
    // run-policy gates over the pipeline's own output (unlabeled-data tuning
    // aid, local_eval_policy.py:23-31 analog) — oracled via the
    // flag_dedup_tiers + corpus_turns dumps Verify writes next to the query
    // outputs. corpusIds feeds the degeneracy probe the WHOLE id space, so
    // a run whose detections collapse into one id class fails the
    // cross-group gate rather than abstaining
    "flag_policy_gates" -> ((s, d) =>
      PolicyGates.evaluate(pipelineFor(s, d).tiered.toDF(),
        corpusIds = Some(corpusFor(s, d).toDF()
          .select(org.apache.spark.sql.functions.col("conv_id"))))),

    // ---- dedup operators over the documents table (oracled) -------------
    // exact dedup via content fingerprint hash-groupBy (S3 sink shape; the
    // `checked`-set pair dedup semantics, ai_...AUTO.py:4034-4045)
    "dedup_exact" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .groupBy(md5($"text").as("fp"))
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("min_doc"))
    }),
    // normalization-invariant dedup (X7 canonicalization before compare).
    // The single-split doc scan is spread before the normalize+md5 grouping
    // key (the one per-row kernel this query's count() actually executes) —
    // otherwise the regex normalization runs in one scan task.
    "dedup_norm" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents").select($"doc_id", $"text")
        .repartition(s.sessionState.conf.numShufflePartitions)
        .groupBy(md5(normText($"text")).as("fp"))
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("min_doc"))
    }),
    // n-gram Jaccard theta self-join (J3 exact small-n path; implementation
    // + skew-cap notes at ngramJaccard above). Served from the session-
    // scoped memo shared with mutual_nn.
    "ngram_jaccard_pairs" -> ((s, d) => jaccardPairsFor(s, d)),
    // document fingerprinting (X2 analog: content hash + token count)
    "doc_fingerprint" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents").select($"doc_id",
        md5(normText($"text")).as("fp"),
        size(split(normText($"text"), " ")).cast("long").as("n_tokens"))
    }),
    // text quality scoring (F5 noise-field analog: length/punct/stopword)
    "text_quality" -> ((s, d) => {
      import s.implicits._
      val norm = normText($"text")
      val nTok = size(split(norm, " ")).cast("double")
      val spaced = concat(lit(" "), norm, lit(" "))
      def cnt(w: String) =
        (length(spaced) - length(regexp_replace(spaced, s" $w ", " "))).cast("double") / (w.length + 1)
      t(s, d, "documents").select($"doc_id",
        nTok.cast("long").as("n_tokens"),
        round(length(regexp_replace($"text", "[a-zA-Z0-9 ]", "")).cast("double")
          / length($"text"), 6).as("punct_ratio"),
        round((cnt("the") + cnt("a")) / nTok, 6).as("stopword_ratio"),
        round(least(nTok / lit(100.0), lit(1.0)), 6).as("len_score"))
    }),
    // language-ID n-gram/marker heuristic (X11 modality-routing analog)
    "lang_id" -> ((s, d) => {
      import s.implicits._
      val spaced = concat(lit(" "), normText($"text"), lit(" "))
      def cnt(w: String) =
        ((length(spaced) - length(regexp_replace(spaced, s" $w ", " "))) / (w.length + 1)).cast("int")
      val en = (cnt("the") + cnt("a") + cnt("of")).as("en_score")
      val de = (cnt("der") + cnt("die") + cnt("und")).as("de_score")
      val fr = (cnt("le") + cnt("la") + cnt("et")).as("fr_score")
      t(s, d, "documents").select($"doc_id", en, de, fr)
        .withColumn("predicted_lang",
          when($"en_score" >= $"de_score" && $"en_score" >= $"fr_score" && $"en_score" > 0, "en")
            .when($"de_score" >= $"fr_score" && $"de_score" > 0, "de")
            .when($"fr_score" > 0, "fr")
            .otherwise("unknown"))
    }),
    // token counting: whitespace + BPE-ish regex segmentation
    "token_count" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents").select($"doc_id",
        size(split(normText($"text"), " ")).cast("long").as("ws_tokens"),
        regexp_count($"text", lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long").as("bpe_tokens"))
    }),

    // ---- similarity search over embeddings -------------------------------
    // brute-force cosine top-k (X9 NCC analog; baseline ANN path)
    "ann_cosine_topk" -> ((s, d) => {
      import s.implicits._
      import graft.functions.GraftFunctions.dot_arr
      // dot products + norms via the codegen'd DotArr kernel (bit-equal to
      // the former aggregate(zip_with)/aggregate(transform) chains — same
      // left-to-right double accumulation — but a tight JVM loop instead of
      // interpreted per-element lambdas); the query side is spread so the
      // nested-loop scoring doesn't serialize into the single scan task.
      // The raw float[] embedding feeds dot_arr directly (per-element
      // widening inside the kernel is IEEE-exact ≡ the former cast-to-
      // double projection) — the broadcast side ships HALF the bytes
      val v = t(s, d, "embeddings").select($"vec_id", $"embedding".as("e"))
      val n = v.withColumn("nrm", sqrt(dot_arr($"e", $"e")))
      val q = n.filter($"vec_id" < 20)
        .select($"vec_id".as("q_id"), $"e".as("qe"), $"nrm".as("qn"))
        .repartition($"q_id")
      val p = q.join(n.hint("broadcast"), $"vec_id" =!= $"q_id")
        .withColumn("cos", dot_arr($"qe", $"e") / ($"qn" * $"nrm"))
      val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")
      p.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 5)
        .select($"q_id", $"vec_id".as("n_id"), $"rnk", round($"cos", 6).as("cosine"))
    }),

    // embedding-cosine near-dup pairs (exact theta self-join, J1 analog) —
    // dot products via the codegen'd DotArr expression, broadcast small side
    "embed_near_dup" -> ((s, d) => {
      import s.implicits._
      import graft.functions.GraftFunctions.dot_arr
      // raw float[] into dot_arr (exact widening in-kernel; half the
      // broadcast bytes) — see ann_cosine_topk
      val v = t(s, d, "embeddings").select($"vec_id", $"embedding".as("e"))
      val n = v.withColumn("nrm", sqrt(dot_arr($"e", $"e")))
      // spread the nested-loop stream side: the embeddings table is ONE
      // parquet split, which would otherwise serialize the O(n²) cosine
      // sweep into a single task (measured 1.2 s single-task vs ~0.2 s
      // spread at the bench corpus)
      val a = n.select($"vec_id".as("vec_a"), $"e".as("ea"), $"nrm".as("na"))
        .repartition(s.sessionState.conf.numShufflePartitions)
      a.join(broadcast(n), $"vec_a" < $"vec_id")
        .withColumn("cos", dot_arr($"ea", $"e") / ($"na" * $"nrm"))
        .filter($"cos" >= 0.45)
        .select($"vec_a", $"vec_id".as("vec_b"), round($"cos", 6).as("cosine"))
    }),

    // ---- classic analytics battery (coverage of §2.2/2.5/2.6/2.7/2.8) ----
    // wide agg with decimal-exact sums + pushed-down scan (A1/A4)
    "q1_agg" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem").groupBy($"l_returnflag", $"l_linestatus").agg(
        sum($"l_quantity".cast("bigint")).as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("sum_base"),
        sum(($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast("decimal(18,4)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n"))
    }),
    // broadcast dim join + agg (J6 merge shape / broadcast discipline)
    "q_join_agg" -> ((s, d) => {
      import s.implicits._
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy($"c_mktsegment").agg(
          count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("revenue"))
    }),
    // per-key top-k via ranking window (W3 top-k neighbors analog)
    "q_window_topk" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
      t(s, d, "orders").withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 3)
        .select($"o_custkey", $"o_orderkey", $"rnk")
    }),
    // global top-k (F4 sort-desc cap → TakeOrderedAndProject)
    "q_topk_global" -> ((s, d) => {
      import s.implicits._
      t(s, d, "orders").orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(100).select($"o_orderkey", $"o_totalprice")
    }),
    // anti join (§2.8 new-rows-only semantics): customers with no big order
    "q_anti_join" -> ((s, d) => {
      import s.implicits._
      t(s, d, "customer").join(
          t(s, d, "orders").filter(col("o_totalprice") > 450000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select($"c_custkey", $"c_name")
    }),
    // semi join + rollup per nation (§2.8 trigger-set semantics)
    "q_semi_join" -> ((s, d) => {
      import s.implicits._
      t(s, d, "customer").join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy($"c_nationkey").agg(count(lit(1)).as("n_customers"))
    }),
    // union + distinct (§2.8 pair-table union dedup)
    "q_union_dedup" -> ((s, d) => {
      import s.implicits._
      val o = t(s, d, "orders")
      o.filter($"o_totalprice" > 400000).select($"o_custkey")
        .union(o.filter($"o_orderpriority" === "1-URGENT").select($"o_custkey"))
        .distinct()
    }),
    // event-time tumbling agg (streaming-shape batch analog, §2.10)
    "q_events_hourly" -> ((s, d) => {
      import s.implicits._
      t(s, d, "events").groupBy(
          date_trunc("hour", $"ts").as("hour"), $"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
    }),
    // per-entity z-score with exact decimal moments (X12/A1 z-score kernel).
    // Shape note (optimization r06): a window-aggregate rewrite was tried
    // and REVERTED — the groupBy's partial aggregation collapses the event
    // table to ~|users| decimal rows BEFORE the exchange and the stats
    // table broadcast-joins back (the event side never shuffles), while
    // the window shuffles every event row. The original shape is the
    // cheaper one at every scale; contrast q_mad_outliers, where
    // `percentile` buffers whole groups either way and the window saves
    // two of three shuffles.
    "q_user_zscore" -> ((s, d) => {
      import s.implicits._
      val e = t(s, d, "events")
      val stats = e.groupBy($"user_id".as("uid")).agg(
        count(lit(1)).cast("double").as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("s1"),
        sum(($"value".cast("decimal(18,2)") * $"value".cast("decimal(18,2)")))
          .cast("double").as("s2"))
      e.join(stats, e("user_id") === stats("uid"))
        .withColumn("mu", $"s1" / $"n")
        .withColumn("variance", $"s2" / $"n" - $"mu" * $"mu")
        .filter($"variance" > 1e-12)
        .select($"event_id", $"user_id",
          round(($"value" - $"mu") / sqrt($"variance"), 4).as("z"))
    }),
    // ---- signature expressions / custom-Expression operators -------------
    // SimHash fingerprints + LSH chunk keys via custom codegen'd Expression
    "simhash_docs" -> ((s, d) =>
      DocDedup.simhashFingerprints(t(s, d, "documents"))),          // X2/X6
    // thorough-mode near-pair sweep (J8 analog, gated small-n)
    "simhash_near_pairs" -> ((s, d) =>
      DocDedup.simhashNearPairs(t(s, d, "documents"))),             // X4/X5
    // MinHash-LSH candidates on the documents table (token-set shingles)
    "minhash_docs_lsh" -> ((s, d) =>
      DocDedup.minhashLshCandidates(s, t(s, d, "documents"))),      // J3
    // LSH-bucketed ANN with multi-probe (near-dup-regime scale path;
    // recall contract measured in AnnRecallSpec)
    "ann_lsh_topk" -> ((s, d) =>
      DocDedup.annLshTopK(t(s, d, "embeddings"))),
    // IVF ANN (general top-k scale path: sampled spherical k-means
    // centroids + nProbe inverted lists; recall ≥ 0.9 gate in AnnRecallSpec)
    "ann_ivf_topk" -> ((s, d) =>
      AnnIvf.annIvfTopK(t(s, d, "embeddings"))),
    // multimodal plumbing: binary payload manifest (oracled via md5)
    "multimodal_manifest" -> ((s, d) =>
      Multimodal.mediaManifest(t(s, d, "documents"))),
    // multimodal stub decode -> fixed-dim features (batched mapPartitions)
    "multimodal_features" -> ((s, d) => {
      import s.implicits._
      Multimodal.featurize(Multimodal.asMedia(t(s, d, "documents"))).toDF()
        .select($"doc_id", $"modality", $"payload_md5",
          round(aggregate($"feature", lit(0.0), (a, x) => a + x * x), 6).as("feat_sq_norm"))
    }),
    // multimodal frame sampling: fixed-size frames, every 4th kept (the
    // video frame-sample plumbing; oracled — docs are ASCII so byte frames
    // equal char substrings)
    "multimodal_frames" -> ((s, d) => {
      import s.implicits._
      Multimodal.frameSample(Multimodal.asMedia(t(s, d, "documents"))).toDF()
        .select($"doc_id", $"frame_idx", $"n_bytes", $"frame_md5")
    }),
    // multimodal resize: average-pool payload bytes to a fixed-dim vector
    "multimodal_resized" -> ((s, d) => {
      import s.implicits._
      Multimodal.resize(Multimodal.asMedia(t(s, d, "documents")))
        .select($"doc_id", $"modality",
          round(aggregate($"resized", lit(0.0), (a, x) => a + x), 4).as("resized_sum"))
    }),
    // intra-conversation repeated spans (X13 copy-move analog)
    "intra_repeated_spans" -> ((s, d) =>
      IntraDup.repeatedSpans(Reassembly.assemble(corpusFor(s, d)))
        .filter(col("n_repeated_shingles") > 0)),
    // content-type routing per conversation (X11 modality analog)
    "conv_profile" -> ((s, d) =>
      IntraDup.convProfile(corpusFor(s, d))),
    // custom typed Aggregator: mean of top-3 order prices per customer (A3)
    "q_topk_mean" -> ((s, d) => {
      import s.implicits._
      val topkMean = udaf(graft.functions.TopKMean(3))
      t(s, d, "orders").groupBy($"o_custkey")
        .agg(round(topkMean($"o_totalprice"), 4).as("top3_mean"))
    }),
    // mutual top-3 NN over the n-gram jaccard graph (W3 mutual-NN mode).
    // The jaccard-pair DAG (a shingle-explode self-join) feeds this query
    // 4x (two union branches, then the topk self-join doubles everything
    // above it) — persist both levels so the expensive join runs ONCE.
    "mutual_nn" -> ((s, d) => {
      import s.implicits._
      val pairs = jaccardPairsFor(s, d) // shared, already materialized
      val edges = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"), $"jaccard")
        .unionAll(pairs.select($"doc_b".as("src"), $"doc_a".as("dst"), $"jaccard"))
      val w = Window.partitionBy($"src").orderBy($"jaccard".desc, $"dst")
      val topk = edges.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 3)
        .persist()
      val mutual = topk.as("x").join(topk.as("y"),
          col("x.src") === col("y.dst") && col("x.dst") === col("y.src"))
        .filter(col("x.src") < col("x.dst"))
        .select(col("x.src").as("doc_a"), col("x.dst").as("doc_b"),
          col("x.jaccard").as("jaccard"))
        // materialize the tiny result, then release the per-invocation
        // intermediate (cache hygiene: repeated invocations in a long-lived
        // session must not accumulate MEMORY_ONLY blocks)
        .localCheckpoint(true)
      topk.unpersist()
      mutual
    }),
    // A7 validation metrics as a first-class query: per transform category,
    // planted-pair detection counts against the ground-truth manifest
    // (reference: ValidationRunner, validation_experiment.py:245-285)
    "validation_metrics" -> ((s, d) => {
      import s.implicits._
      val gt = ConversationGen.gtDataset(s, specFor(d))
        .select($"conv_a", $"conv_b", $"transform_type", $"should_detect")
      val det = pipelineFor(s, d).tiered.toDF()
        .filter(col("tier") === "A" || col("tier") === "B")
        .select($"conv_a", $"conv_b")
      val sym = det.unionByName(
        det.select($"conv_b".as("conv_a"), $"conv_a".as("conv_b")))
        .withColumn("hit", lit(1)).dropDuplicates("conv_a", "conv_b")
      gt.join(sym, Seq("conv_a", "conv_b"), "left")
        .groupBy($"transform_type", $"should_detect")
        .agg(count(lit(1)).as("n_pairs"),
          sum(coalesce($"hit", lit(0))).as("n_detected"))
        .withColumn("detection_rate", round($"n_detected" / $"n_pairs", 4))
    }),
    // X14 windowed median/MAD outliers (selective-brightness analog,
    // ai_...AUTO.py:2226-2342): per-user robust z via median + MAD.
    // Exact engine (oracle parity; buffers each group in one task) ...
    "q_mad_outliers" -> ((s, d) =>
      RobustStats.madOutliers(t(s, d, "events"), exact = true)),
    // ... and the scale twin: approx_percentile (bounded memory per group —
    // a hot user with 10⁸ events cannot OOM a task). Same output contract;
    // small-group equality with the exact engine gated in RobustStatsSpec.
    "q_mad_outliers_approx" -> ((s, d) =>
      RobustStats.madOutliers(t(s, d, "events"), exact = false)),
    // sessionization via lag window (W1/W5 sequential-ordering analog)
    "q_sessionize" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      t(s, d, "events")
        .withColumn("prev", lag($"ts", 1).over(w))
        .withColumn("new_sess",
          when($"prev".isNull ||
            unix_timestamp($"ts") - unix_timestamp($"prev") > 1800, 1L).otherwise(0L))
        .groupBy($"user_id").agg(
          sum($"new_sess").as("n_sessions"),
          count(lit(1)).as("n_events"))
    })
  )

  // =======================================================================
  /** DuckDB oracle SQL. The `{GRAFT_OUT}` placeholder is replaced by
    * graft.Verify with the output directory at dump time — queries over the
    * synthesized transcript corpus (no parquet table exists in the sf dir)
    * read the corpus dump Verify writes next to the query outputs. */
  def oracleSql: Map[String, String] = Map(
    "flag_policy_gates" ->
      """WITH t AS (
           SELECT * FROM read_parquet('{GRAFT_OUT}/flag_dedup_tiers/*.parquet')),
         s AS (
           SELECT count(*) AS n,
             coalesce(avg(CASE WHEN jaccard < 0.25 AND simhash_dist > 8
                            AND max_span_len < 200 THEN 1.0 ELSE 0.0 END), 0.0) AS fp_rate,
             coalesce(avg(CASE WHEN regexp_extract(conv_a, '^[a-z]+')
                            <> regexp_extract(conv_b, '^[a-z]+')
                          THEN 1.0 ELSE 0.0 END), 0.0) AS cross_ratio,
             coalesce(avg(CASE WHEN tier = 'A' THEN 1.0 ELSE 0.0 END), 0.0) AS tier_a,
             coalesce(sum(CASE WHEN simhash_dist <= 3
                            OR (max_span_len >= 200 AND span_frac >= 0.30)
                          THEN 1 ELSE 0 END), 0)::BIGINT AS anchors,
             coalesce(sum(CASE WHEN (simhash_dist <= 3
                            OR (max_span_len >= 200 AND span_frac >= 0.30))
                            AND tier = 'A' THEN 1 ELSE 0 END), 0)::BIGINT AS anchors_a
           FROM t),
         c AS (SELECT count(DISTINCT regexp_extract(conv_id, '^[a-z]+'))
                 AS n_classes
               FROM read_parquet('{GRAFT_OUT}/corpus_turns/*.parquet')),
         p AS (SELECT *, CASE WHEN anchors = 0 THEN 1.0
                              ELSE anchors_a::DOUBLE / anchors END AS aprec
               FROM s, c)
         SELECT 'fp_rate' AS gate, round(fp_rate, 4) AS value,
           0.35 AS threshold, fp_rate <= 0.35 AS pass, n FROM p
         UNION ALL SELECT 'cross_group_ratio', round(cross_ratio, 4),
           0.40, CASE WHEN n_classes >= 2 THEN cross_ratio >= 0.40 END, n FROM p
         UNION ALL SELECT 'tier_a_share', round(tier_a, 4),
           0.05, tier_a >= 0.05, n FROM p
         UNION ALL SELECT 'anchor_precision', round(aprec, 4),
           0.90, aprec >= 0.90, anchors FROM p""",
    "validation_metrics" ->
      """WITH gt AS (
           SELECT conv_a, conv_b, transform_type, should_detect
           FROM read_parquet('{GRAFT_OUT}/gt_pairs/*.parquet')),
         det AS (
           SELECT conv_a, conv_b
           FROM read_parquet('{GRAFT_OUT}/flag_dedup_tiers/*.parquet')
           WHERE tier IN ('A', 'B')),
         sym AS (
           SELECT DISTINCT conv_a, conv_b FROM (
             SELECT conv_a, conv_b FROM det
             UNION ALL SELECT conv_b AS conv_a, conv_a AS conv_b FROM det)),
         j AS (
           SELECT gt.transform_type, gt.should_detect,
             CASE WHEN sym.conv_a IS NOT NULL THEN 1 ELSE 0 END AS hit
           FROM gt LEFT JOIN sym USING (conv_a, conv_b))
         SELECT transform_type, should_detect, count(*) AS n_pairs,
           sum(hit)::BIGINT AS n_detected,
           round(sum(hit)::DOUBLE / count(*), 4) AS detection_rate
         FROM j GROUP BY 1, 2""",
    // Full SQL replay of the LSH candidate join over the dumped signature
    // surface, INCLUDING the salted regime (same structure as the
    // flag_dedup_candidates replay: unified bkey bucket space → singleton
    // drop → ceil(bsz/256) sub-bucketing on the dumped per-doc salt hash →
    // within-(bkey, salt) enumeration + rep-chain bridges → dedup →
    // ≥2-band-hit prefilter → DEBIASED 8-bit estimate filter at 0.5 →
    // per-doc top-64 cap windows, bundle/bridge exempt from both gates and
    // ranked 1.0). est_raw = (eq/n − 2⁻⁸)/(1 − 2⁻⁸) clamped at 0 is
    // bit-identical to the Spark kernel (eq/n and 2⁻⁸ are dyadic, the final
    // division correctly rounded in both engines). The bucket phase orders
    // doc ids by their STRING form — the engine runs on conv_id strings —
    // and casts back to BIGINT at the output. floor(x*1e6+0.5)/1e6
    // replicates Spark's HALF_UP round(est, 6) (est_raw's 1e6-multiples sit
    // ≥0.0019 from any .5 boundary — the granularity is k/255).
    "minhash_docs_lsh" ->
      """WITH bands AS (
           SELECT doc_id, band_key
           FROM read_parquet('{GRAFT_OUT}/minhash_doc_bands/*.parquet')),
         vars AS (
           SELECT doc_id, v_id, v_hash, bkey
           FROM read_parquet('{GRAFT_OUT}/minhash_doc_variants/*.parquet')),
         salth AS (
           SELECT doc_id, salt_h
           FROM read_parquet('{GRAFT_OUT}/minhash_doc_salth/*.parquet')),
         sigs AS (
           SELECT doc_id, pos, m8
           FROM read_parquet('{GRAFT_OUT}/minhash_doc_sigs8/*.parquet')),
         items AS (
           SELECT doc_id::VARCHAR AS did, band_key AS bkey, 0 AS src FROM bands
           UNION ALL
           SELECT doc_id::VARCHAR AS did, bkey, 1 AS src FROM vars),
         sized AS (
           SELECT *, count(*) OVER (PARTITION BY bkey) AS bsz FROM items),
         salted AS (
           SELECT i.did, i.bkey,
                  min(i.src) OVER (PARTITION BY i.bkey, CASE
                    WHEN i.bsz <= 256 THEN 0
                    ELSE ((s.salt_h % CAST(ceil(i.bsz / 256.0) AS BIGINT))
                          + CAST(ceil(i.bsz / 256.0) AS BIGINT))
                         % CAST(ceil(i.bsz / 256.0) AS BIGINT) END) AS src,
                  CASE WHEN i.bsz <= 256 THEN 0
                    ELSE ((s.salt_h % CAST(ceil(i.bsz / 256.0) AS BIGINT))
                          + CAST(ceil(i.bsz / 256.0) AS BIGINT))
                         % CAST(ceil(i.bsz / 256.0) AS BIGINT) END AS salt
           FROM sized i JOIN salth s ON s.doc_id::VARCHAR = i.did
           WHERE i.bsz >= 2),
         inpairs AS (
           SELECT a.did AS da, b.did AS db, a.src
           FROM salted a JOIN salted b
             ON a.bkey = b.bkey AND a.salt = b.salt AND a.did < b.did),
         reps AS (
           SELECT bkey, salt, min(did) AS rep, min(src) AS src
           FROM salted GROUP BY 1, 2),
         bridges AS (
           SELECT least(rep, next_rep) AS da, greatest(rep, next_rep) AS db,
                  src + 2 AS src
           FROM (SELECT *, lead(rep) OVER (PARTITION BY bkey ORDER BY salt)
                   AS next_rep FROM reps)
           WHERE next_rep IS NOT NULL AND rep <> next_rep),
         allp AS (
           SELECT * FROM inpairs UNION ALL SELECT * FROM bridges),
         uniq AS (
           SELECT da, db,
                  sum(CASE WHEN src = 0 THEN 1 ELSE 0 END) AS lsh_hits,
                  max(CASE WHEN src = 1 OR src = 3 THEN 1 ELSE 0 END) AS has_bundle,
                  max(CASE WHEN src >= 2 THEN 1 ELSE 0 END) AS has_bridge
           FROM allp GROUP BY 1, 2),
         filt AS (
           SELECT * FROM uniq
           WHERE has_bundle = 1 OR has_bridge = 1 OR lsh_hits >= 2),
         eqs AS (
           SELECT f.da, f.db, min(f.lsh_hits) AS lsh_hits,
                  min(f.has_bundle) AS has_bundle,
                  min(f.has_bridge) AS has_bridge,
                  sum(CASE WHEN sa.m8 = sb.m8 THEN 1 ELSE 0 END) AS eq,
                  count(*) AS n
           FROM filt f
           JOIN sigs sa ON sa.doc_id::VARCHAR = f.da
           JOIN sigs sb ON sb.doc_id::VARCHAR = f.db AND sb.pos = sa.pos
           GROUP BY 1, 2),
         surv AS (
           SELECT da, db, has_bundle, has_bridge,
                  greatest(0.0, (eq::DOUBLE / n - 1.0/256) / (1.0 - 1.0/256)) AS est_raw,
                  floor(greatest(0.0, (eq::DOUBLE / n - 1.0/256) / (1.0 - 1.0/256))
                        * 1000000.0 + 0.5) / 1000000.0 AS minhash_est,
                  concat_ws('+',
                    CASE WHEN lsh_hits > 0 THEN 'lsh' END,
                    CASE WHEN has_bundle = 1 THEN 'bundle' END,
                    CASE WHEN has_bridge = 1 THEN 'bridge' END) AS source,
                  da || '|' || db AS pair_key
           FROM eqs
           WHERE greatest(0.0, (eq::DOUBLE / n - 1.0/256) / (1.0 - 1.0/256)) >= 0.5
              OR has_bundle = 1 OR has_bridge = 1),
         rk AS (
           SELECT *,
             row_number() OVER (PARTITION BY da ORDER BY
               greatest(est_raw, CASE WHEN has_bundle = 1 OR has_bridge = 1
                 THEN 1.0 ELSE 0.0 END) DESC, pair_key) AS rk_a,
             row_number() OVER (PARTITION BY db ORDER BY
               greatest(est_raw, CASE WHEN has_bundle = 1 OR has_bridge = 1
                 THEN 1.0 ELSE 0.0 END) DESC, pair_key) AS rk_b
           FROM surv)
         SELECT CAST(da AS BIGINT) AS doc_a, CAST(db AS BIGINT) AS doc_b,
           minhash_est, source
         FROM rk WHERE rk_a <= 64 OR rk_b <= 64""",
    // Full SQL replay of the PIPELINE's candidate stage over the dumped
    // signature surface (pipe_bands/pipe_variants/pipe_salth/pipe_sigs8),
    // INCLUDING the salted regime: unified (bkey) bucket space → singleton
    // drop → n_salts = ceil(bsz/256) sub-bucketing on the dumped per-conv
    // salt hash (pmod, engine parity for negative hashes) → within-
    // (bkey, salt) pair enumeration + the rep-chain bridges linking
    // consecutive sub-buckets → per-pair dedup (min band_id, −1 when a
    // bundle variant participates) → ≥2-band-hit prefilter (bundle/bridge-
    // exempt) → DEBIASED 8-bit b-bit estimate filter at simThreshold=0.25
    // (bundle/bridge-exempt) → per-doc top-64 cap windows (bundle/bridge
    // rank 1.0). minhash_est = (eq/128 − 2⁻⁸)/(1 − 2⁻⁸) clamped at 0 is
    // bit-identical in both engines (dyadic inputs, one correctly-rounded
    // division) — no rounding needed. Earlier rounds assumed the no-salt
    // regime (green at sf0.01 only); this replay is corpus-size-exact —
    // verified green at sf0.1, where 12 of the oracle's former rows sit in
    // over-cap buckets the engine salts (cross-sub-bucket pairs replaced by
    // bridge connectivity).
    "flag_dedup_candidates" ->
      """WITH bands AS (
           SELECT conv_id, band_id, band_key
           FROM read_parquet('{GRAFT_OUT}/pipe_bands/*.parquet')),
         vars AS (
           SELECT conv_id, v_id, v_hash, bkey
           FROM read_parquet('{GRAFT_OUT}/pipe_variants/*.parquet')),
         salth AS (
           SELECT conv_id, salt_h
           FROM read_parquet('{GRAFT_OUT}/pipe_salth/*.parquet')),
         sigs AS (
           SELECT conv_id, pos, m8
           FROM read_parquet('{GRAFT_OUT}/pipe_sigs8/*.parquet')),
         items AS (
           SELECT conv_id, band_key AS bkey, band_id, 0 AS src FROM bands
           UNION ALL
           SELECT conv_id, bkey, -1 AS band_id, 1 AS src FROM vars),
         sized AS (
           SELECT *, count(*) OVER (PARTITION BY bkey) AS bsz FROM items),
         salted AS (
           SELECT i.conv_id, i.bkey,
                  min(i.band_id) OVER (PARTITION BY i.bkey, CASE
                    WHEN i.bsz <= 256 THEN 0
                    ELSE ((s.salt_h % CAST(ceil(i.bsz / 256.0) AS BIGINT))
                          + CAST(ceil(i.bsz / 256.0) AS BIGINT))
                         % CAST(ceil(i.bsz / 256.0) AS BIGINT) END) AS band_id,
                  min(i.src) OVER (PARTITION BY i.bkey, CASE
                    WHEN i.bsz <= 256 THEN 0
                    ELSE ((s.salt_h % CAST(ceil(i.bsz / 256.0) AS BIGINT))
                          + CAST(ceil(i.bsz / 256.0) AS BIGINT))
                         % CAST(ceil(i.bsz / 256.0) AS BIGINT) END) AS src,
                  CASE WHEN i.bsz <= 256 THEN 0
                    ELSE ((s.salt_h % CAST(ceil(i.bsz / 256.0) AS BIGINT))
                          + CAST(ceil(i.bsz / 256.0) AS BIGINT))
                         % CAST(ceil(i.bsz / 256.0) AS BIGINT) END AS salt
           FROM sized i JOIN salth s ON s.conv_id = i.conv_id
           WHERE i.bsz >= 2),
         inpairs AS (
           SELECT a.conv_id AS conv_a, b.conv_id AS conv_b,
                  a.band_id, a.src
           FROM salted a JOIN salted b
             ON a.bkey = b.bkey AND a.salt = b.salt
            AND a.conv_id < b.conv_id),
         reps AS (
           SELECT bkey, salt, min(conv_id) AS rep,
                  min(band_id) AS band_id, min(src) AS src
           FROM salted GROUP BY 1, 2),
         bridges AS (
           SELECT least(rep, next_rep) AS conv_a,
                  greatest(rep, next_rep) AS conv_b,
                  band_id, src + 2 AS src
           FROM (SELECT *, lead(rep) OVER (PARTITION BY bkey ORDER BY salt)
                   AS next_rep FROM reps)
           WHERE next_rep IS NOT NULL AND rep <> next_rep),
         allp AS (
           SELECT * FROM inpairs UNION ALL SELECT * FROM bridges),
         uniq AS (
           SELECT conv_a, conv_b, min(band_id) AS band_id,
                  sum(CASE WHEN src = 0 THEN 1 ELSE 0 END) AS lsh_hits,
                  max(CASE WHEN src = 1 OR src = 3 THEN 1 ELSE 0 END) AS has_bundle,
                  max(CASE WHEN src >= 2 THEN 1 ELSE 0 END) AS has_bridge
           FROM allp GROUP BY 1, 2),
         filt AS (
           SELECT * FROM uniq
           WHERE has_bundle = 1 OR has_bridge = 1 OR lsh_hits >= 2),
         eqs AS (
           SELECT f.conv_a, f.conv_b, min(f.band_id) AS band_id,
                  min(f.lsh_hits) AS lsh_hits, min(f.has_bundle) AS has_bundle,
                  min(f.has_bridge) AS has_bridge,
                  sum(CASE WHEN sa.m8 = sb.m8 THEN 1 ELSE 0 END) AS eq,
                  count(*) AS n
           FROM filt f
           JOIN sigs sa ON sa.conv_id = f.conv_a
           JOIN sigs sb ON sb.conv_id = f.conv_b AND sb.pos = sa.pos
           GROUP BY 1, 2),
         surv AS (
           SELECT conv_a, conv_b, band_id,
                  greatest(0.0, (eq::DOUBLE / n - 1.0/256) / (1.0 - 1.0/256))
                    AS minhash_est,
                  has_bundle, has_bridge,
                  concat_ws('+',
                    CASE WHEN lsh_hits > 0 THEN 'lsh' END,
                    CASE WHEN has_bundle = 1 THEN 'bundle' END,
                    CASE WHEN has_bridge = 1 THEN 'bridge' END) AS source,
                  conv_a || '|' || conv_b AS pair_key
           FROM eqs
           WHERE greatest(0.0, (eq::DOUBLE / n - 1.0/256) / (1.0 - 1.0/256)) >= 0.25
              OR has_bundle = 1 OR has_bridge = 1),
         rk AS (
           SELECT *,
             row_number() OVER (PARTITION BY conv_a ORDER BY
               greatest(minhash_est, CASE WHEN has_bundle = 1 OR has_bridge = 1
                 THEN 1.0 ELSE 0.0 END) DESC, pair_key) AS rk_a,
             row_number() OVER (PARTITION BY conv_b ORDER BY
               greatest(minhash_est, CASE WHEN has_bundle = 1 OR has_bridge = 1
                 THEN 1.0 ELSE 0.0 END) DESC, pair_key) AS rk_b
           FROM surv)
         SELECT pair_key, conv_a, conv_b, minhash_est,
           band_id::INTEGER AS band_id, source
         FROM rk WHERE rk_a <= 64 OR rk_b <= 64""",
    // The run-metrics funnel replayed from the other dumps: stage
    // input/output counts are row counts of the dumped stage outputs, and
    // the LSH bucket funnel (total/paired/salted) recomputes from the
    // dumped band table — so the observation-carried metrics the pipeline
    // reports are verified against ground truth, not just non-empty.
    "flag_run_metrics" ->
      """WITH corpus AS (
           SELECT count(*) AS n
           FROM read_parquet('{GRAFT_OUT}/corpus_turns/*.parquet')),
         sigs AS (
           SELECT count(DISTINCT conv_id) AS n
           FROM read_parquet('{GRAFT_OUT}/pipe_bands/*.parquet')),
         cands AS (
           SELECT count(*) AS n
           FROM read_parquet('{GRAFT_OUT}/flag_dedup_candidates/*.parquet')),
         ver AS (
           SELECT count(*) AS n
           FROM read_parquet('{GRAFT_OUT}/flag_dedup_verified/*.parquet')),
         tier AS (
           SELECT count(*) AS n
           FROM read_parquet('{GRAFT_OUT}/flag_dedup_tiers/*.parquet')),
         bk AS (
           SELECT band_key, count(*) AS sz
           FROM read_parquet('{GRAFT_OUT}/pipe_bands/*.parquet') GROUP BY 1),
         bstat AS (
           SELECT count(*)::BIGINT AS total,
             sum(CASE WHEN sz >= 2 THEN 1 ELSE 0 END)::BIGINT AS paired,
             sum(CASE WHEN sz > 256 THEN 1 ELSE 0 END)::BIGINT AS salted
           FROM bk)
         SELECT 'signatures' AS stage, corpus.n::BIGINT AS input_count,
           sigs.n::BIGINT AS output_count FROM corpus, sigs
         UNION ALL SELECT 'candidates', sigs.n::BIGINT, cands.n::BIGINT FROM sigs, cands
         UNION ALL SELECT 'verified', cands.n::BIGINT, ver.n::BIGINT FROM cands, ver
         UNION ALL SELECT 'tiered', ver.n::BIGINT, tier.n::BIGINT FROM ver, tier
         UNION ALL SELECT 'clusters', tier.n::BIGINT, (-1)::BIGINT FROM tier
         UNION ALL SELECT 'lsh_buckets_paired', total, paired FROM bstat
         UNION ALL SELECT 'lsh_buckets_salted', total, salted FROM bstat
         UNION ALL SELECT 'pipeline_total', corpus.n::BIGINT, tier.n::BIGINT
           FROM corpus, tier""",
    // Full SQL replay of the tier gate (T1-T5 truth table + X12 z-score +
    // T2 routing) over the verified-pairs and conv_profile dumps: the
    // endpoint mu/sigma recompute is float-safe (the engine folds each
    // endpoint's sorted scores, DuckDB folds them in its own order; the
    // debiased 8-bit minhash_est is not dyadic, so the two differ by fold-
    // order noise — ≤ 3e-13 on clip_z over a 270-member family's ~500-edge
    // endpoints — which the round-6 both sides apply to the clip_z REPORT
    // column absorbs; the raw veto comparison flips only if a z sits that
    // close to the threshold). Thresholds are DedupConfig.balanced constants, with the
    // tool_heavy/longform typeGates overrides keyed on the routed pair_type.
    // Full SQL replay of intra-conversation repeated-span stats over the
    // dumped positional shingle surface: per-shingle multiplicity counts,
    // repeat mass, and the TRUE interval-union clone coverage replayed as
    // gaps-and-islands (an island breaks where the next repeated position
    // is >= k past the previous one; covered = last + k - first per
    // island, exactly the kernel's curStart/curEnd merge). All doubles
    // are int/int IEEE divisions — bit-identical without rounding.
    "intra_repeated_spans" ->
      """WITH sh AS (
           SELECT * FROM read_parquet('{GRAFT_OUT}/intra_shingles/*.parquet')),
         d AS (SELECT * FROM read_parquet('{GRAFT_OUT}/intra_doc/*.parquet')),
         cnt AS (SELECT conv_id, h, count(*) AS c FROM sh GROUP BY 1, 2),
         agg AS (
           SELECT conv_id,
             sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS n_rep,
             max(CASE WHEN c > 1 THEN c END) AS max_mult,
             sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS excess
           FROM cnt GROUP BY 1),
         rep AS (
           SELECT s.conv_id, s.pos
           FROM sh s JOIN cnt ON cnt.conv_id = s.conv_id AND cnt.h = s.h
           WHERE cnt.c > 1),
         isl AS (
           SELECT conv_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL
                       OR pos - lag(pos) OVER w >= 5 THEN 1 ELSE 0 END AS ni
           FROM rep WINDOW w AS (PARTITION BY conv_id ORDER BY pos)),
         grp AS (
           SELECT conv_id, pos,
             sum(ni) OVER (PARTITION BY conv_id ORDER BY pos) AS g
           FROM isl),
         cov AS (
           SELECT conv_id, sum(mx + 5 - mn) AS covered
           FROM (SELECT conv_id, g, min(pos) AS mn, max(pos) AS mx
                 FROM grp GROUP BY 1, 2)
           GROUP BY 1)
         SELECT d.conv_id, d.n_tokens,
           agg.n_rep::INT AS n_repeated_shingles,
           agg.max_mult::INT AS max_multiplicity,
           agg.excess::DOUBLE / greatest(1, d.n_tokens - 4) AS repeat_fraction,
           coalesce(cov.covered, 0)::DOUBLE / d.n_tokens AS clone_coverage
         FROM d JOIN agg ON agg.conv_id = d.conv_id
         LEFT JOIN cov ON cov.conv_id = d.conv_id
         WHERE agg.n_rep > 0""",
    // Full SQL replay of the verification evidence map over the dumped
    // per-conv surfaces: global sketch jaccard (merge-scan set ratio),
    // per-block jaccards -> ordered top-k mean / min / verified-tile count,
    // simhash + bundle hamming via bit_count(xor) (bundle_dist replicates
    // the kernel's short-circuit: FIRST distance <= cutoff in (i,j) scan
    // order, else the true min), span_frac from the dumped head lengths.
    // The suffix-array span itself is not SQL-expressible; the oracle takes
    // it from the dump but enforces the progressive-gating contract (span
    // forced to 0 unless jac < 0.90 AND bundle_dist > 3 AND est >= 0.15) —
    // so a Spark-side regression in the gating discipline still fails the
    // compare. FP discipline: every double is an int/int IEEE division or
    // an order-replicated sum (top-k added descending, exactly like the
    // kernel), so values are bit-identical without rounding.
    "flag_dedup_verified" ->
      """WITH p AS (
           SELECT pair_key, conv_a, conv_b, minhash_est, source
           FROM read_parquet('{GRAFT_OUT}/flag_dedup_candidates/*.parquet')),
         doc AS (SELECT * FROM read_parquet('{GRAFT_OUT}/pipe_doc/*.parquet')),
         sk AS (SELECT * FROM read_parquet('{GRAFT_OUT}/pipe_sketch/*.parquet')),
         blk AS (SELECT * FROM read_parquet('{GRAFT_OUT}/pipe_blocks/*.parquet')),
         vr AS (SELECT * FROM read_parquet('{GRAFT_OUT}/pipe_variants/*.parquet')),
         vd AS (SELECT pair_key, max_span_len, span_offset
                FROM read_parquet('{GRAFT_OUT}/flag_dedup_verified/*.parquet')),
         base AS (
           SELECT p.*, da.simhash AS sh_a, db.simhash AS sh_b,
                  da.sketch_n AS skn_a, db.sketch_n AS skn_b,
                  least(da.n_blocks, db.n_blocks) AS nblk,
                  greatest(1, least(da.head_len, db.head_len)) AS min_len
           FROM p JOIN doc da ON da.conv_id = p.conv_a
                  JOIN doc db ON db.conv_id = p.conv_b),
         gi AS (
           SELECT p.pair_key, count(*) AS i
           FROM p JOIN sk a ON a.conv_id = p.conv_a
                  JOIN sk b ON b.conv_id = p.conv_b AND b.sk = a.sk
           GROUP BY 1),
         bn AS (SELECT conv_id, block_id, count(*) AS n FROM blk GROUP BY 1, 2),
         bi AS (
           SELECT p.pair_key, a.block_id, count(*) AS i
           FROM p JOIN blk a ON a.conv_id = p.conv_a
                  JOIN blk b ON b.conv_id = p.conv_b
                             AND b.block_id = a.block_id AND b.bk = a.bk
           GROUP BY 1, 2),
         bidx AS (
           SELECT pair_key, conv_a, conv_b,
                  unnest(range(nblk)) AS block_id
           FROM base),
         bj AS (
           SELECT x.pair_key, x.block_id,
             CASE WHEN coalesce(na.n, 0) + coalesce(nb.n, 0) = 0 THEN 0.0
                  ELSE coalesce(bi.i, 0)::DOUBLE
                       / (coalesce(na.n, 0) + coalesce(nb.n, 0) - coalesce(bi.i, 0))
             END AS bj
           FROM bidx x
           LEFT JOIN bn na ON na.conv_id = x.conv_a AND na.block_id = x.block_id
           LEFT JOIN bn nb ON nb.conv_id = x.conv_b AND nb.block_id = x.block_id
           LEFT JOIN bi ON bi.pair_key = x.pair_key AND bi.block_id = x.block_id),
         bs AS (
           SELECT pair_key, count(*) AS nblk, min(bj) AS patch_min,
             sum(CASE WHEN bj >= 0.5 THEN 1 ELSE 0 END) AS n_verified,
             list(bj ORDER BY bj DESC) AS l
           FROM bj GROUP BY 1),
         bd AS (
           SELECT p.pair_key,
             coalesce(
               arg_min(bit_count(xor(va.v_hash, vb.v_hash))::INT,
                       va.v_id * 1024 + vb.v_id)
                 FILTER (WHERE bit_count(xor(va.v_hash, vb.v_hash)) <= 3),
               min(bit_count(xor(va.v_hash, vb.v_hash)))::INT, 64) AS bundle_dist
           FROM p LEFT JOIN vr va ON va.conv_id = p.conv_a
                  LEFT JOIN vr vb ON vb.conv_id = p.conv_b
           GROUP BY 1),
         ev AS (
           SELECT base.pair_key, base.conv_a, base.conv_b, base.minhash_est,
             CASE WHEN base.skn_a + base.skn_b = 0 THEN 0.0
                  ELSE coalesce(gi.i, 0)::DOUBLE
                       / (base.skn_a + base.skn_b - coalesce(gi.i, 0))
             END AS jaccard,
             CASE WHEN coalesce(bs.nblk, 0) = 0 THEN 0.0
                  ELSE (coalesce(bs.l[1], 0.0) + coalesce(bs.l[2], 0.0)
                        + coalesce(bs.l[3], 0.0) + coalesce(bs.l[4], 0.0))
                       / least(bs.nblk, 4)
             END AS jaccard_patch_topk,
             CASE WHEN coalesce(bs.nblk, 0) = 0 THEN 0.0
                  ELSE bs.patch_min END AS jaccard_patch_min,
             coalesce(bs.n_verified, 0)::INT AS n_verified_blocks,
             bit_count(xor(base.sh_a, base.sh_b))::INT AS simhash_dist,
             bd.bundle_dist::INT AS bundle_dist,
             (bd.bundle_dist <= 3) AS variant_matched,
             base.min_len, base.source
           FROM base
           LEFT JOIN gi ON gi.pair_key = base.pair_key
           LEFT JOIN bs ON bs.pair_key = base.pair_key
           JOIN bd ON bd.pair_key = base.pair_key),
         sp AS (
           SELECT ev.*,
             CASE WHEN ev.jaccard < 0.90 AND ev.bundle_dist > 3
                       AND ev.minhash_est >= 0.15
                  THEN vd.max_span_len ELSE 0 END AS max_span_len,
             CASE WHEN ev.jaccard < 0.90 AND ev.bundle_dist > 3
                       AND ev.minhash_est >= 0.15
                  THEN vd.span_offset ELSE 0 END AS span_offset
           FROM ev JOIN vd ON vd.pair_key = ev.pair_key)
         SELECT pair_key, conv_a, conv_b, minhash_est, jaccard,
           jaccard_patch_topk, jaccard_patch_min, n_verified_blocks,
           simhash_dist, bundle_dist, variant_matched, max_span_len,
           max_span_len::DOUBLE / min_len AS span_frac, span_offset, source
         FROM sp""",
    "flag_dedup_tiers" ->
      """WITH v AS (
           SELECT * FROM read_parquet('{GRAFT_OUT}/flag_dedup_verified/*.parquet')),
         prof AS (
           SELECT conv_id, content_type
           FROM read_parquet('{GRAFT_OUT}/conv_profile/*.parquet')),
         edges AS (
           SELECT conv_a AS ep, minhash_est AS s FROM v
           UNION ALL SELECT conv_b, minhash_est FROM v),
         stats AS (
           SELECT ep, avg(s) AS mu, stddev_pop(s) AS sigma FROM edges GROUP BY 1),
         z AS (
           SELECT v.*,
             least(
               CASE WHEN sa.sigma > 1e-9
                    THEN (v.minhash_est - sa.mu) / sa.sigma ELSE 10.0 END,
               CASE WHEN sb.sigma > 1e-9
                    THEN (v.minhash_est - sb.mu) / sb.sigma ELSE 10.0 END
             ) AS clip_z,
             CASE WHEN pa.content_type IS NULL OR pb.content_type IS NULL
                    THEN 'default'
                  WHEN pa.content_type = pb.content_type THEN pa.content_type
                  ELSE 'cross' END AS pair_type
           FROM v
           LEFT JOIN stats sa ON v.conv_a = sa.ep
           LEFT JOIN stats sb ON v.conv_b = sb.ep
           LEFT JOIN prof pa ON v.conv_a = pa.conv_id
           LEFT JOIN prof pb ON v.conv_b = pb.conv_id),
         thr AS (
           SELECT z.*,
             CASE pair_type WHEN 'tool_heavy' THEN 0.92 WHEN 'longform' THEN 0.90 ELSE 0.90 END AS strict_j,
             CASE pair_type WHEN 'tool_heavy' THEN 0.85 WHEN 'longform' THEN 0.75 ELSE 0.78 END AS relax_j,
             CASE pair_type WHEN 'tool_heavy' THEN 1.60 WHEN 'longform' THEN 1.40 ELSE 1.45 END AS relax_s,
             CASE pair_type WHEN 'tool_heavy' THEN 0.40 WHEN 'longform' THEN 0.30 ELSE 0.32 END AS band_b_j,
             CASE pair_type WHEN 'tool_heavy' THEN 2.0 WHEN 'longform' THEN 1.5 ELSE 1.5 END AS z_veto_t
           FROM z),
         paths AS (
           SELECT thr.*,
             (bundle_dist <= 3) AS exact_p,
             (jaccard >= strict_j AND jaccard_patch_topk >= strict_j - 0.05) AS strict_p,
             (max_span_len >= 200 AND span_frac >= 0.30) AS span_p,
             (jaccard >= relax_j AND (minhash_est + jaccard) >= relax_s) AS relaxed_p,
             (clip_z < z_veto_t AND jaccard < strict_j AND max_span_len < 200) AS fp_veto,
             (max_span_len >= 100 AND jaccard_patch_topk >= relax_j) AS deep_p,
             (n_verified_blocks >= 2 AND jaccard >= band_b_j) AS tile_p,
             (pair_type = 'tool_heavy' AND n_verified_blocks < 1) AS tile_demote,
             (jaccard >= band_b_j OR simhash_dist <= 9 OR max_span_len >= 100) AS tier_b
           FROM thr),
         gated AS (
           SELECT paths.*,
             CASE WHEN exact_p THEN 'exact_fingerprint'
                  WHEN strict_p THEN 'strict_jaccard'
                  WHEN span_p THEN 'substring_span'
                  WHEN tile_p THEN 'tile_promoted'
                  WHEN relaxed_p AND NOT fp_veto AND NOT tile_demote THEN 'relaxed_sum'
                  WHEN relaxed_p AND deep_p THEN 'deep_verified'
                  ELSE NULL END AS tp
           FROM paths)
         SELECT pair_key, conv_a, conv_b, minhash_est, jaccard,
           jaccard_patch_topk, n_verified_blocks, simhash_dist, bundle_dist,
           max_span_len, span_frac, round(clip_z, 6) AS clip_z_analog,
           pair_type,
           CASE WHEN tp IS NOT NULL THEN 'A'
                WHEN tier_b THEN 'B' ELSE 'other' END AS tier,
           CASE WHEN tp IS NOT NULL THEN tp
                WHEN tier_b THEN 'band_b' ELSE 'none' END AS tier_path,
           source
         FROM gated""",
    // CC oracle: transitive closure over the dumped A/B edges (recursive
    // CTE), min-label per component — pure SQL replay of the min-label
    // union-find/propagation contract (§2.12)
    "flag_dedup_clusters" ->
      """WITH RECURSIVE e AS (
           SELECT conv_a AS a, conv_b AS b
           FROM read_parquet('{GRAFT_OUT}/flag_dedup_tiers/*.parquet')
           WHERE tier IN ('A', 'B')),
         sym AS (
           SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
         reach(src, dst) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a),
         closure AS (
           SELECT src, dst FROM reach UNION SELECT src, src AS dst FROM reach),
         lbl AS (
           SELECT src AS conv_id, min(dst) AS cluster_id FROM closure GROUP BY 1)
         SELECT l.conv_id, l.cluster_id, c.cluster_size
         FROM lbl l JOIN (
           SELECT cluster_id, count(*)::BIGINT AS cluster_size
           FROM lbl GROUP BY 1) c USING (cluster_id)""",
    // top-N hamming pairs replayed over the dumped fingerprints: verifies
    // the J8 sweep's join/order/limit logic independently of the simhash
    // kernel (bit_count(xor) is DuckDB's native popcount)
    // Full SQL replay of the 64-bit SimHash: per-occurrence ±1 bit votes
    // over the dumped token hashes, bit set iff votes > 0, then the four
    // 16-bit chunk keys. Bit extraction (th >> bit) & 1 is shift-semantics
    // agnostic; bit 63 is reconstructed as the signed minimum to stay in
    // BIGINT. Docs whose text normalizes to zero tokens hash to 0 (the
    // kernel's empty-input contract), preserved via the left join.
    "simhash_docs" ->
      """WITH th AS (
           SELECT doc_id, th
           FROM read_parquet('{GRAFT_OUT}/simhash_tokens/*.parquet')),
         votes AS (
           SELECT doc_id, b.bit,
             sum(CASE WHEN ((th >> b.bit::INTEGER) & 1) = 1
                      THEN 1 ELSE -1 END) AS v
           FROM th, range(0, 64) AS b(bit)
           GROUP BY 1, 2),
         sh AS (
           SELECT doc_id,
             sum(CASE WHEN v > 0 THEN
                   CASE WHEN bit = 63 THEN -9223372036854775807 - 1
                        ELSE (1::BIGINT << bit::INTEGER) END
                 ELSE 0 END)::BIGINT AS simhash
           FROM votes GROUP BY 1),
         alldocs AS (
           SELECT d.doc_id, coalesce(sh.simhash, 0)::BIGINT AS simhash
           FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id)
         SELECT doc_id, simhash,
           (simhash & 65535) AS chunk0,
           ((simhash >> 16) & 65535) AS chunk1,
           ((simhash >> 32) & 65535) AS chunk2,
           ((simhash >> 48) & 65535) AS chunk3
         FROM alldocs""",
    "simhash_near_pairs" ->
      """WITH f AS (
           SELECT doc_id, simhash
           FROM read_parquet('{GRAFT_OUT}/simhash_docs/*.parquet'))
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
         FROM f a JOIN f b ON a.doc_id < b.doc_id
         ORDER BY hamming, doc_a, doc_b LIMIT 20""",
    // Integer-exact mirror of IntraDup.convProfile: round-half-up of
    // m·10^d/n as (2·m·10^d + n) // (2·n) and cross-multiplied integer
    // routing predicates — engine-independent, no float rounding ties
    // (round(avg(...),2) read 531.18 vs 531.17 across engines at 10×
    // the gate scale).
    "conv_profile" ->
      """WITH a AS (
           SELECT conv_id, count(*) AS n,
             sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS tm,
             sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS um,
             sum(len(text)) AS chars
           FROM read_parquet('{GRAFT_OUT}/corpus_turns/*.parquet')
           GROUP BY 1),
         c AS (SELECT *, greatest(tm, um, n - tm - um) AS cm FROM a)
         SELECT conv_id, n AS n_turns,
           ((2 * tm * 10000 + n) // (2 * n)) / 10000.0 AS tool_ratio,
           ((2 * um * 10000 + n) // (2 * n)) / 10000.0 AS user_ratio,
           ((2 * chars * 100 + n) // (2 * n)) / 100.0 AS avg_turn_chars,
           CASE WHEN cm * 20 < n * 3 THEN 'unknown'
                WHEN tm * 10 >= n * 3 THEN 'tool_heavy'
                WHEN um * 20 >= n * 9 THEN 'interactive_dialog'
                WHEN chars > n * 400 THEN 'longform'
                ELSE 'dialog' END AS content_type,
           ((2 * cm * 10000 + n) // (2 * n)) / 10000.0 AS confidence
         FROM c""",
    "multimodal_resized" ->
      """WITH b AS (SELECT doc_id, text, len(text) AS n FROM documents)
         SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS modality,
           round(list_sum(list_transform(range(0, 16), w ->
             list_sum(list_transform(
               range((n * w // 16) + 1,
                     least(greatest(n * w // 16 + 1, n * (w + 1) // 16), n) + 1),
               i -> ascii(substr(text, i::INT, 1))))
             / (least(greatest(n * w // 16 + 1, n * (w + 1) // 16), n)
                - n * w // 16))), 4) AS resized_sum
         FROM b""",
    "dedup_exact" ->
      """SELECT md5(text) AS fp, count(*) AS n_docs, min(doc_id) AS min_doc
         FROM documents GROUP BY 1""",
    "dedup_norm" ->
      s"""SELECT md5($normSql) AS fp, count(*) AS n_docs, min(doc_id) AS min_doc
          FROM documents GROUP BY 1""",
    "ngram_jaccard_pairs" ->
      s"""WITH t AS (
            SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
          g AS (
            SELECT DISTINCT doc_id,
              toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
            FROM t, unnest(range(1, greatest(len(toks) - 1, 1))) AS u(i)),
          sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
          r AS (
            SELECT g.* FROM g
            JOIN (SELECT sh FROM g GROUP BY sh HAVING count(*) <= 64) h USING (sh)),
          i AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM r a JOIN r b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
          SELECT doc_a, doc_b,
            round(inter::DOUBLE / (sa.n + sb.n - inter), 6) AS jaccard
          FROM i
          JOIN sz sa ON sa.doc_id = doc_a
          JOIN sz sb ON sb.doc_id = doc_b
          WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.05""",
    "doc_fingerprint" ->
      s"""SELECT doc_id, md5($normSql) AS fp,
            len(string_split($normSql, ' '))::BIGINT AS n_tokens
          FROM documents""",
    "text_quality" ->
      s"""WITH b AS (
            SELECT doc_id, text, ' ' || $normSql || ' ' AS sp,
              len(string_split($normSql, ' '))::DOUBLE AS nt
            FROM documents)
          SELECT doc_id, nt::BIGINT AS n_tokens,
            round(len(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
              / len(text), 6) AS punct_ratio,
            round(((len(sp) - len(replace(sp, ' the ', ' '))) / 4.0
                 + (len(sp) - len(replace(sp, ' a ', ' '))) / 2.0) / nt, 6)
              AS stopword_ratio,
            round(least(nt / 100.0, 1.0), 6) AS len_score
          FROM b""",
    "lang_id" ->
      s"""WITH b AS (
            SELECT doc_id, ' ' || $normSql || ' ' AS sp FROM documents),
          c AS (
            SELECT doc_id,
              ((len(sp)-len(replace(sp,' the ',' ')))/4
               + (len(sp)-len(replace(sp,' a ',' ')))/2
               + (len(sp)-len(replace(sp,' of ',' ')))/3)::INT AS en_score,
              ((len(sp)-len(replace(sp,' der ',' ')))/4
               + (len(sp)-len(replace(sp,' die ',' ')))/4
               + (len(sp)-len(replace(sp,' und ',' ')))/4)::INT AS de_score,
              ((len(sp)-len(replace(sp,' le ',' ')))/3
               + (len(sp)-len(replace(sp,' la ',' ')))/3
               + (len(sp)-len(replace(sp,' et ',' ')))/3)::INT AS fr_score
            FROM b)
          SELECT doc_id, en_score, de_score, fr_score,
            CASE WHEN en_score >= de_score AND en_score >= fr_score AND en_score > 0 THEN 'en'
                 WHEN de_score >= fr_score AND de_score > 0 THEN 'de'
                 WHEN fr_score > 0 THEN 'fr'
                 ELSE 'unknown' END AS predicted_lang
          FROM c""",
    "token_count" ->
      s"""SELECT doc_id,
            len(string_split($normSql, ' '))::BIGINT AS ws_tokens,
            len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS bpe_tokens
          FROM documents""",
    "ann_cosine_topk" ->
      """WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
           FROM embeddings),
         n AS (
           SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
           FROM v),
         p AS (
           SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             list_sum(list_transform(range(1, len(q.e) + 1),
               i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS cos
           FROM n q, n c WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
         r AS (
           SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
           FROM p)
         SELECT q_id, n_id, rnk, round(cos, 6) AS cosine FROM r WHERE rnk <= 5""",
    // Full SQL replay of the sign-LSH multi-probe ANN over the dumped
    // (vec_id, bucket) signatures: probe set = own bucket + each 1-plane
    // flip (Hamming radius 1), candidates = bucket collisions, then the
    // same cosine top-k ranking ann_cosine_topk already proves bit-exact.
    "ann_lsh_topk" ->
      """WITH b AS (
           SELECT vec_id, bucket
           FROM read_parquet('{GRAFT_OUT}/ann_lsh_buckets/*.parquet')),
         v AS (
           SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
           FROM embeddings),
         n AS (
           SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
           FROM v),
         probes AS (
           SELECT vec_id AS q_id, bucket AS q_bucket FROM b
           UNION ALL
           SELECT vec_id, xor(bucket, (1::BIGINT << (i - 1)))
           FROM b, range(1, 9) t(i)),
         cand AS (
           SELECT p.q_id, nb.vec_id AS n_id
           FROM probes p JOIN b nb
             ON p.q_bucket = nb.bucket AND nb.vec_id <> p.q_id),
         scored AS (
           SELECT c.q_id, c.n_id,
             list_sum(list_transform(range(1, len(q.e) + 1),
               i -> q.e[i] * x.e[i])) / (q.nrm * x.nrm) AS cos
           FROM cand c
           JOIN n q ON q.vec_id = c.q_id
           JOIN n x ON x.vec_id = c.n_id),
         r AS (
           SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
           FROM scored)
         SELECT q_id, n_id, rnk, round(cos, 6) AS cosine FROM r WHERE rnk <= 5""",
    // Full SQL replay of the IVF search over the dumped routing surface
    // (ann_ivf_cells = per-vector cell, ann_ivf_probes = per-query probed
    // cells): candidates = corpus vectors in any probed cell, cosine = dot
    // of PRE-NORMALIZED vectors exactly like the Spark side (divide each
    // component by the norm, THEN multiply-accumulate — a different fp
    // rounding than ann_cosine_topk's dot/(na*nb)).
    "ann_ivf_topk" ->
      """WITH cells AS (
           SELECT vec_id, cell
           FROM read_parquet('{GRAFT_OUT}/ann_ivf_cells/*.parquet')),
         probes AS (
           SELECT q_id, cell
           FROM read_parquet('{GRAFT_OUT}/ann_ivf_probes/*.parquet')),
         v AS (
           SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
           FROM embeddings),
         n AS (
           SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
           FROM v),
         u AS (
           SELECT vec_id,
             CASE WHEN nrm = 0 THEN e
                  ELSE list_transform(e, x -> x / nrm) END AS ue
           FROM n),
         cand AS (
           SELECT p.q_id, c.vec_id AS n_id
           FROM probes p JOIN cells c ON p.cell = c.cell
           WHERE p.q_id <> c.vec_id),
         scored AS (
           SELECT cd.q_id, cd.n_id,
             list_sum(list_transform(range(1, len(q.ue) + 1),
               i -> q.ue[i] * x.ue[i])) AS cos
           FROM cand cd
           JOIN u q ON q.vec_id = cd.q_id
           JOIN u x ON x.vec_id = cd.n_id),
         r AS (
           SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
           FROM scored)
         SELECT q_id, n_id, rnk, round(cos, 6) AS cosine FROM r WHERE rnk <= 5""",
    "embed_near_dup" ->
      """WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
           FROM embeddings),
         n AS (
           SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
           FROM v),
         p AS (
           SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_sum(list_transform(range(1, len(a.e) + 1),
               i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) AS cos
           FROM n a JOIN n b ON a.vec_id < b.vec_id)
         SELECT vec_a, vec_b, round(cos, 6) AS cosine FROM p
         WHERE cos >= 0.45""",
    "q1_agg" ->
      // NB: DuckDB sum(BIGINT) returns HUGEINT (int128) — the driver's hasher
      // is representation-strict, so cast back to BIGINT to match Spark's
      // LongType (the one type divergence unique to this query).
      """SELECT l_returnflag, l_linestatus,
           sum(l_quantity::BIGINT)::BIGINT AS sum_qty,
           sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_base,
           sum((l_extendedprice * (1.0 - l_discount))::DECIMAL(18,4))::DOUBLE AS revenue,
           count(*) AS n
         FROM lineitem GROUP BY 1, 2""",
    "q_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
           sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1""",
    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, rnk FROM (
           SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rnk
           FROM orders) WHERE rnk <= 3""",
    "q_topk_global" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN
           (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)""",
    "q_semi_join" ->
      """SELECT c_nationkey, count(*) AS n_customers FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders)
         GROUP BY 1""",
    "q_union_dedup" ->
      """SELECT DISTINCT o_custkey FROM (
           SELECT o_custkey FROM orders WHERE o_totalprice > 400000
           UNION ALL
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')""",
    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n, sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
         FROM events GROUP BY 1, 2""",
    "q_user_zscore" ->
      """WITH s AS (
           SELECT user_id AS uid, count(*)::DOUBLE AS n,
             sum(value::DECIMAL(18,2))::DOUBLE AS s1,
             sum(value::DECIMAL(18,2) * value::DECIMAL(18,2))::DOUBLE AS s2
           FROM events GROUP BY 1),
         j AS (
           SELECT event_id, user_id, value, s1 / n AS mu,
             s2 / n - (s1 / n) * (s1 / n) AS variance
           FROM events JOIN s ON user_id = uid)
         SELECT event_id, user_id,
           round((value - mu) / sqrt(variance), 4) AS z
         FROM j WHERE variance > 1e-12""",
    "multimodal_manifest" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS modality,
           strlen(text)::BIGINT AS n_bytes,
           md5(text) AS payload_md5
         FROM documents""",
    "multimodal_frames" ->
      """WITH f AS (
           SELECT doc_id, i AS frame_idx,
             substr(text, (i * 64 + 1)::INT, 64) AS frame
           FROM documents,
             unnest(range(0, ((len(text) + 63) // 64)::BIGINT)) AS u(i)
           WHERE i % 4 = 0)
         SELECT doc_id, frame_idx::INT AS frame_idx,
           len(frame)::INT AS n_bytes, md5(frame) AS frame_md5
         FROM f""",
    "q_topk_mean" ->
      """SELECT o_custkey, round(avg(p), 4) AS top3_mean FROM (
           SELECT o_custkey, o_totalprice AS p,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3 GROUP BY 1""",
    "mutual_nn" ->
      s"""WITH t AS (
            SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
          g AS (
            SELECT DISTINCT doc_id,
              toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
            FROM t, unnest(range(1, greatest(len(toks) - 1, 1))) AS u(i)),
          sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
          r AS (
            SELECT g.* FROM g
            JOIN (SELECT sh FROM g GROUP BY sh HAVING count(*) <= 64) h USING (sh)),
          i AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM r a JOIN r b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          p AS (
            SELECT doc_a, doc_b,
              round(inter::DOUBLE / (sa.n + sb.n - inter), 6) AS jaccard
            FROM i
            JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
            WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.05),
          e AS (
            SELECT doc_a AS src, doc_b AS dst, jaccard FROM p
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst, jaccard FROM p),
          k AS (
            SELECT src, dst, jaccard,
              row_number() OVER (PARTITION BY src
                ORDER BY jaccard DESC, dst) AS rnk
            FROM e)
          SELECT x.src AS doc_a, x.dst AS doc_b, x.jaccard AS jaccard
          FROM k x JOIN k y ON x.src = y.dst AND x.dst = y.src
          WHERE x.rnk <= 3 AND y.rnk <= 3 AND x.src < x.dst""",
    "q_mad_outliers" ->
      """WITH m AS (
           SELECT user_id AS u1, median(value) AS med FROM events GROUP BY 1),
         d AS (
           SELECT event_id, user_id, abs(value - med) AS adev
           FROM events JOIN m ON user_id = u1),
         s AS (
           SELECT user_id AS u2, median(adev) AS mad FROM d GROUP BY 1)
         SELECT event_id, user_id,
           round(CASE WHEN mad > 1e-9 THEN adev / (1.4826 * mad)
                      WHEN adev > 1e-9 THEN 9999.0 ELSE 0.0 END, 4) AS robust_z
         FROM d JOIN s ON user_id = u2
         WHERE CASE WHEN mad > 1e-9 THEN adev / (1.4826 * mad)
                    WHEN adev > 1e-9 THEN 9999.0 ELSE 0.0 END > 3.5""",
    // The stub decode's per-element feature output is dumped as a surface
    // (media_features); the oracle replays everything around it in SQL:
    // the modality routing (doc_id mod 3), the payload checksum (md5 of
    // the source text — payload IS the UTF-8 text), and the squared-norm
    // left fold in index order (list_reduce replicates the Spark
    // `aggregate` accumulation sequence bit-exactly before the round).
    "multimodal_features" ->
      """WITH f AS (
           SELECT doc_id, list(val ORDER BY idx) AS l
           FROM read_parquet('{GRAFT_OUT}/media_features/*.parquet')
           GROUP BY 1),
         s AS (
           SELECT doc_id,
             list_reduce(list_transform(l, x -> x * x), (a, b) -> a + b) AS sq
           FROM f)
         SELECT d.doc_id,
           CASE WHEN d.doc_id % 3 = 0 THEN 'image'
                WHEN d.doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS modality,
           md5(d.text) AS payload_md5,
           round(s.sq, 6) AS feat_sq_norm
         FROM documents d JOIN s ON s.doc_id = d.doc_id""",
    // Approx twin: the GK sketch is the one non-SQL-replayable step, so
    // Verify dumps its per-key (median, MAD) surface and the oracle
    // replays the deviation/z gating over it — same compositional pattern
    // as the tier replay over the verified dump. (The dump itself is
    // deterministic: below `accuracy` observations per group the sketch
    // retains every value.)
    "q_mad_outliers_approx" ->
      """WITH s AS (
           SELECT k, med, mad
           FROM read_parquet('{GRAFT_OUT}/mad_approx_stats/*.parquet'))
         SELECT event_id, user_id,
           round(CASE WHEN mad > 1e-9 THEN abs(value - med) / (1.4826 * mad)
                      WHEN abs(value - med) > 1e-9 THEN 9999.0
                      ELSE 0.0 END, 4) AS robust_z
         FROM events JOIN s ON user_id = k
         WHERE CASE WHEN mad > 1e-9 THEN abs(value - med) / (1.4826 * mad)
                    WHEN abs(value - med) > 1e-9 THEN 9999.0
                    ELSE 0.0 END > 3.5""",
    "q_sessionize" ->
      """WITH l AS (
           SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         f AS (
           SELECT user_id,
             CASE WHEN prev IS NULL
                    OR date_diff('second', prev, ts) > 1800 THEN 1 ELSE 0 END AS new_sess
           FROM l)
         SELECT user_id, sum(new_sess)::BIGINT AS n_sessions,
           count(*) AS n_events
         FROM f GROUP BY 1"""
  )
}

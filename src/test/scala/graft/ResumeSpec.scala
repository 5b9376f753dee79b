package graft

import java.nio.file.Files
import graft.model._
import graft.operators._
import graft.sources.ConversationGen

/**
 * Checkpoint/resume acceptance (FIXTURES.md §4, BASELINE.md "Resume"):
 * stage tables keyed (cacheVersion, inputHash) mirror the reference's
 * versioned cache with input-hash invalidation
 * (/root/reference/duplicate_detector/core/similarity_engine.py:40-62).
 */
class ResumeSpec extends SparkSpec {

  private def tmpDir() =
    Files.createTempDirectory("graft_ck_").toAbsolutePath.toString

  test("re-run with same input+config resumes from checkpoints, identical output") {
    import spark.implicits._
    val dir = tmpDir()
    val turns = ConversationGen.corpus(spark, ConversationGen.smoke)
    val r1 = Pipeline.runPipelined(turns, DedupConfig.balanced, runId = "r1",
      checkpointDir = Some(dir))
    val t1 = r1.tiered.select($"pair_key", $"tier").as[(String, String)].collect().sorted.toSeq

    // simulate kill after the candidate stage: later stages' checkpoints removed
    val base = s"$dir/${Pipeline.namespaceFor(DedupConfig.balanced)}/${r1.inputHash}"
    def rm(stage: String): Unit = {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(s"$base/$stage")).deleteRecursively()
    }
    rm("verified"); rm("tiered"); rm("clusters")
    assert(Files.exists(java.nio.file.Paths.get(s"$base/candidates/_SUCCESS")))

    val r2 = Pipeline.runPipelined(turns, DedupConfig.balanced, runId = "r2",
      checkpointDir = Some(dir))
    val t2 = r2.tiered.select($"pair_key", $"tier").as[(String, String)].collect().sorted.toSeq
    assert(t1 == t2, "resumed run must produce identical tier assignments")

    // signature/candidate stages were NOT recomputed: r2 reports them as
    // cache hits, not as computed stages
    assert(!r2.metrics.exists(_.stage == "candidates"),
      s"expected candidates cache hit; metrics=${r2.metrics.map(_.stage)}")

    // per-partition lineage written next to each fresh stage table
    // (north_rule): files + row counts sum to the stage row count
    val lin = spark.read.parquet(s"$base/lineage_candidates")
    import org.apache.spark.sql.functions._
    val total = lin.agg(sum($"rows")).head().getLong(0)
    assert(total == r1.candidates.count(), s"lineage rows=$total")
    assert(lin.select($"partition_file").distinct().count() == lin.count())
  }

  test("pipelined mode resumes from stage checkpoints after a kill (VERDICT r02 #3)") {
    import spark.implicits._
    val dir = tmpDir()
    val turns = ConversationGen.corpus(spark, ConversationGen.smoke)
    val r1 = Pipeline.runPipelined(turns, DedupConfig.balanced,
      runId = "p1", checkpointDir = Some(dir))
    val t1 = r1.tiered.select($"pair_key", $"tier").as[(String, String)].collect().sorted.toSeq

    // simulate a kill after the candidates stage: later stage checkpoints
    // are gone, sigs + candidates survive
    val base = s"$dir/${Pipeline.namespaceFor(DedupConfig.balanced)}/${r1.inputHash}"
    def rm(stage: String): Unit = {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(s"$base/$stage")).deleteRecursively()
    }
    rm("verified"); rm("tiered")
    assert(Files.exists(java.nio.file.Paths.get(s"$base/sigs/_SUCCESS")))
    assert(Files.exists(java.nio.file.Paths.get(s"$base/candidates/_SUCCESS")))

    val r2 = Pipeline.runPipelined(turns, DedupConfig.balanced,
      runId = "p2", checkpointDir = Some(dir))
    val t2 = r2.tiered.select($"pair_key", $"tier").as[(String, String)].collect().sorted.toSeq
    assert(t1 == t2, "resumed pipelined run must produce identical tiers")
    // signatures and candidates came from checkpoints, not recompute
    assert(r2.metrics.exists(_.stage == "signatures:cached"),
      s"expected signatures cache hit; metrics=${r2.metrics.map(_.stage)}")
    assert(r2.metrics.exists(_.stage == "candidates:cached"))
    assert(r2.metrics.exists(_.stage == "verified"), "verified must recompute")
    val lin = spark.read.parquet(s"$base/lineage_sigs")
    import org.apache.spark.sql.functions._
    assert(lin.agg(sum($"rows")).head().getLong(0) == r1.sigs.count())
    // the table entry keys a parquet copy of the same rows by the same
    // content hash, so it resumes every stage of the runs above
    val io = new graft.sources.ParquetDirProvider(tmpDir())
    io.write(turns.toDF(), "turns")
    val r3 = Pipeline.runOnTable(spark, io, "turns", DedupConfig.balanced,
      checkpointDir = Some(dir), runId = "t1")
    assert(r3.inputHash == r1.inputHash)
    Seq("signatures", "candidates", "verified", "tiered", "clusters").foreach { s =>
      assert(r3.metrics.exists(_.stage == s + ":cached"),
        s"$s must resume; metrics=${r3.metrics.map(_.stage)}")
    }
  }

  test("different cacheVersion or input invalidates the checkpoint") {
    val dir = tmpDir()
    val turns = ConversationGen.corpus(spark, ConversationGen.smoke)
    val cfg = DedupConfig.balanced
    Pipeline.runPipelined(turns, cfg, runId = "a", checkpointDir = Some(dir))
    // bump version → fresh namespace → recompute happens (metrics present)
    val r2 = Pipeline.runPipelined(turns, cfg.copy(cacheVersion = "v2"), runId = "b",
      checkpointDir = Some(dir))
    assert(r2.metrics.exists(_.stage == "candidates"))
    // different input → different hash namespace
    val other = ConversationGen.corpus(spark,
      ConversationGen.CorpusSpec(nBase = 120, nDupSources = 3, nHardNegPairs = 10))
    val h1 = Pipeline.inputFingerprint(turns)
    val h2 = Pipeline.inputFingerprint(other)
    assert(h1 != h2)
  }

  test("changed config knob invalidates stage tables; unchanged config resumes (VERDICT r03 wrong #1)") {
    val dir = tmpDir()
    val turns = ConversationGen.corpus(spark, ConversationGen.smoke)
    val cfg = DedupConfig.balanced
    Pipeline.runPipelined(turns, cfg, runId = "a", checkpointDir = Some(dir))

    // same config, same cacheVersion → full resume (every stage cached)
    val rSame = Pipeline.runPipelined(turns, cfg, runId = "same", checkpointDir = Some(dir))
    assert(rSame.metrics.exists(_.stage == "candidates:cached"),
      s"unchanged config must resume; metrics=${rSame.metrics.map(_.stage)}")
    assert(!rSame.metrics.exists(_.stage == "candidates"))

    // changed simThreshold, SAME cacheVersion → stage tables must recompute
    // (the round-3 booby trap: a resume silently serving stale candidates)
    val rThresh = Pipeline.runPipelined(turns, cfg.copy(simThreshold = 0.40),
      runId = "thresh", checkpointDir = Some(dir))
    assert(rThresh.metrics.exists(_.stage == "candidates"),
      s"changed simThreshold must recompute; metrics=${rThresh.metrics.map(_.stage)}")

    // changed groupGap (suppression active, groups supplied) → recompute;
    // and a different groups TABLE under the same gap → recompute too
    import org.apache.spark.sql.functions.{col, lit}
    val convIds = turns.select(col("conv_id")).distinct()
    val groupsA = convIds.withColumn("group_id",
      (org.apache.spark.sql.functions.xxhash64(col("conv_id")) % 7).cast("long"))
    val gapCfg = cfg.copy(groupGap = Some(0))
    def runG(c: DedupConfig, id: String, g: org.apache.spark.sql.DataFrame) =
      Pipeline.runPipelined(turns, c, id, Some(g), checkpointDir = Some(dir))
    val g1 = runG(gapCfg, "g1", groupsA)
    assert(g1.metrics.exists(_.stage == "candidates"), "first gap run computes")
    val g2 = runG(gapCfg, "g2", groupsA)
    assert(g2.metrics.exists(_.stage == "candidates:cached"),
      "same gap + same groups resumes")
    val g3 = runG(cfg.copy(groupGap = Some(1)), "g3", groupsA)
    assert(g3.metrics.exists(_.stage == "candidates"), "changed gap recomputes")
    val groupsB = convIds.withColumn("group_id", lit(0L))
    val g4 = runG(gapCfg, "g4", groupsB)
    assert(g4.metrics.exists(_.stage == "candidates"), "changed groups table recomputes")

    // the changed config keys its own namespace: rerun under it resumes
    // its tables, a third threshold recomputes
    val p1 = Pipeline.runPipelined(turns, cfg.copy(simThreshold = 0.40),
      runId = "p1", checkpointDir = Some(dir))
    assert(p1.metrics.exists(_.stage == "candidates:cached"),
      "a rerun resumes the tables of the SAME changed config")
    val p2 = Pipeline.runPipelined(turns, cfg.copy(simThreshold = 0.55),
      runId = "p2", checkpointDir = Some(dir))
    assert(p2.metrics.exists(_.stage == "candidates"),
      "a further changed config recomputes")
  }

  test("empty (but active) groups table keys deterministically, no NPE (ADVICE r04)") {
    import org.apache.spark.sql.types._
    val dir = tmpDir()
    val turns = ConversationGen.corpus(spark, ConversationGen.smoke)
    // zero-row groups table with suppression ACTIVE: bit_xor over no rows
    // is NULL — groupsFingerprint must coalesce, not throw, and the run
    // must checkpoint under a stable namespace
    val emptyGroups = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("conv_id", StringType),
        StructField("group_id", LongType))))
    val cfg = DedupConfig.balanced.copy(groupGap = Some(0))
    val r1 = Pipeline.runPipelined(turns, cfg, "eg1", Some(emptyGroups),
      checkpointDir = Some(dir))
    assert(r1.metrics.exists(_.stage == "candidates"), "first run computes")
    // same empty table → same fingerprint → resume, not recompute
    val r2 = Pipeline.runPipelined(turns, cfg, "eg2", Some(emptyGroups),
      checkpointDir = Some(dir))
    assert(r2.metrics.exists(_.stage == "candidates:cached"),
      s"empty groups must key deterministically; metrics=${r2.metrics.map(_.stage)}")
  }

  test("a stage whose lineage never landed recomputes instead of resuming") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir()
    val turns = ConversationGen.corpus(spark, ConversationGen.smoke)
    val r1 = Pipeline.runPipelined(turns, DedupConfig.balanced, runId = "l1",
      checkpointDir = Some(dir))
    // r1's stages read the stage tables, which the rerun overwrites
    val nCands = r1.candidates.count()
    // a kill between the candidates table's commit and its lineage write
    val base = s"$dir/${Pipeline.namespaceFor(DedupConfig.balanced)}/${r1.inputHash}"
    new scala.reflect.io.Directory(new java.io.File(s"$base/lineage_candidates"))
      .deleteRecursively()
    assert(Files.exists(java.nio.file.Paths.get(s"$base/candidates/_SUCCESS")))

    val r2 = Pipeline.runPipelined(turns, DedupConfig.balanced, runId = "l2",
      checkpointDir = Some(dir))
    val stages = r2.metrics.map(_.stage)
    assert(stages.contains("candidates") && !stages.contains("candidates:cached"),
      s"candidates must recompute; metrics=$stages")
    assert(stages.contains("signatures:cached"), s"sigs must resume; metrics=$stages")
    val lin = spark.read.parquet(s"$base/lineage_candidates")
      .agg(sum(col("rows"))).head().getLong(0)
    val rows = spark.read.parquet(s"$base/candidates").count()
    assert(lin == rows && rows == nCands, s"lineage=$lin table=$rows first run=$nCands")
  }

  test("a stored run with empty stages resumes with zero counts") {
    import spark.implicits._
    val dir = tmpDir()
    // six conversations over disjoint vocabularies: no LSH candidate pair,
    // so candidates, verified, tiered and clusters are all empty stages
    // whose lineage tables have no rows
    val ts = new java.sql.Timestamp(1700000000000L)
    val turns = (0 until 6).flatMap(c => (0 until 3).map(t => Turn(s"e$c", t,
      "user", (0 until 40).map(w => s"v${c}x${t}w$w").mkString(" "), null, ts))).toDS()
    val r1 = Pipeline.runPipelined(turns, DedupConfig.balanced, runId = "z1",
      checkpointDir = Some(dir))
    assert(r1.metrics.find(_.stage == "candidates").map(_.output_count).contains(0L),
      s"fixture must have no candidates; metrics=${r1.metrics}")
    val r2 = Pipeline.runPipelined(turns, DedupConfig.balanced, runId = "z2",
      checkpointDir = Some(dir))
    val out = r2.metrics.map(m => m.stage -> m.output_count).toMap
    for (s <- Seq("candidates", "verified", "tiered"))
      assert(out.get(s + ":cached").contains(0L), s"$s must resume with 0 rows; metrics=$out")
    assert(out.get("signatures:cached").contains(6L), s"metrics=$out")
    assert(out.contains("clusters:cached"), s"metrics=$out")
  }
}

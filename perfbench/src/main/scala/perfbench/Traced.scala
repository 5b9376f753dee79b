package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, Observation, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledJoin}
import org.apache.spark.sql.catalyst.expressions.Not
import org.apache.spark.sql.functions._
import graft.functions.{Hashing, TextKernel}
import graft.model._
import graft.operators._
import graft.sources.ParquetDirProvider

/** What one traced chain produced and measured. */
final case class Chain(wall: Map[String, Double], extra: Map[String, Double],
                       rows: Map[String, Long], window: Window, totalS: Double,
                       gcS: Double, result: Pipeline.Result, docs: Dataset[ConvDoc])

/** Dispatch decisions read from the physical plans the engine's calls ran,
  * after they ran (adaptive query stages included). */
object Plans extends AdaptiveSparkPlanHelper {
  /** Rows that passed the engine's span trigger: the row count of a filter
    * on its pass-1 `need_span` flag. Every such filter of one plan reads the
    * same slice; None if the plan has none. */
  def spanTriggered(plan: SparkPlan): Option[Long] =
    collectWithSubqueries(plan) {
      case f: FilterExec if f.condition.toString.contains("need_span") &&
          !f.condition.exists(_.isInstanceOf[Not]) => f.metrics("numOutputRows").value
    }.maxOption

  /** (broadcast hash joins, shuffled joins) of a plan. */
  def joins(plan: SparkPlan): (Int, Int) =
    (collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }.size,
      collectWithSubqueries(plan) { case j: ShuffledJoin => j }.size)
}

/**
 * The traced run: the pipeline rebuilt from each layer's public function,
 * in pipeline order, each call under its own Spark job group, so the
 * Collector can attribute every task to the layer that ran it. Each layer's
 * result is materialized (localCheckpoint, the pipeline's own stage idiom)
 * before the next layer starts. The chain's outputs must hash the same as
 * `Pipeline.runPipelined` on the same input.
 */
final class Traced(spark: SparkSession, a: Main.Args, turns: Dataset[Turn],
                   dir: File, manifest: Vector[Planted], collector: Collector) extends Measured {
  import Main._
  import spark.implicits._

  private val cfg = Cfg
  private val sc = spark.sparkContext
  private var attempted = 0

  val Layers: Seq[String] = Seq("reassembly", "signatures", "lsh_join", "verification",
    "conv_profile", "tier_gate", "connected_components")

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def chain(tag: String): Chain = {
    attempted += 1
    collector.reset()
    val wall = scala.collection.mutable.LinkedHashMap[String, Double]()
    val extra = scala.collection.mutable.LinkedHashMap[String, Double]()
    val rows = scala.collection.mutable.LinkedHashMap[String, Long]()
    val plans = scala.collection.mutable.Map[String, SparkPlan]()
    def layer[T](name: String)(body: => T): T = {
      sc.setJobGroup(s"$tag:$name", name)
      val t0 = System.nanoTime()
      try body finally wall(name) = (System.nanoTime() - t0) / 1e9
    }
    def sub[T](key: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally extra(key) = (System.nanoTime() - t0) / 1e9
    }
    def materialize[T](name: String, ds: Dataset[T]): Dataset[T] = {
      val o = Observation()
      val observed = ds.observe(o, count(lit(1)).as("n"))
      val ck = observed.localCheckpoint(true)
      rows(name) = o.get("n").asInstanceOf[Long]
      plans(name) = observed.queryExecution.executedPlan
      ck
    }
    val gc0 = gcMs(); val t0 = System.nanoTime()
    val docs = layer("reassembly")(materialize("reassembly",
      Reassembly.assemble(turns, cfg.maskToolPayloads)))
    val sigs = layer("signatures")(materialize("signatures", Signatures.compute(docs, cfg)))
    val oBuckets = Observation()
    val cands = layer("lsh_join") {
      val c = sub("lsh_join.bucket_s")(LshJoin.candidates(sigs, cfg, Some(oBuckets)))
      sub("lsh_join.pairs_s")(materialize("lsh_join", c))
    }
    val verified = layer("verification") {
      val v = sub("verification.pass1_s")(Verification.verify(cands, sigs, cfg))
      sub("verification.spans_s")(materialize("verification", v))
    }
    val profile = layer("conv_profile")(materialize("conv_profile", IntraDup.convProfile(turns)))
    val tiered = layer("tier_gate")(materialize("tier_gate",
      TierGate(verified, cfg, Some(profile), pairCountHint = Some(rows("verification")))))
    val ccStats = new ConnectedComponents.CcStats
    val clusters = layer("connected_components") {
      val edges = tiered.filter($"tier" === "A" || $"tier" === "B").select($"conv_a", $"conv_b")
      val c = ConnectedComponents.cluster(edges.toDF(), cfg.ccMaxIters,
        edgeCountHint = Some(rows("tier_gate")), stats = ccStats)
      rows("connected_components") = c.count()
      c
    }
    val totalS = (System.nanoTime() - t0) / 1e9
    val gcS = (gcMs() - gc0) / 1000.0
    sc.clearJobGroup()
    val window = collector.snapshot()

    // dispatch decisions and yields, read outside the timed layers
    val salted = oBuckets.get("salted_buckets").asInstanceOf[Long]
    val edges = tiered.filter($"tier" === "A" || $"tier" === "B").count()
    val triggered = Plans.spanTriggered(plans("verification")).getOrElse(throw new CheckFailed(
      "the verification plan has no need_span filter: verification.triggered cannot be read"))
    // pass-1 rows carry max_span_len 0: only spans the kernel found count
    val spans = verified.filter($"max_span_len" >= cfg.spanMinLen).count()
    val (bhj, shuffled) = Plans.joins(plans("tier_gate"))
    extra("lsh_join.salted_buckets") = salted.toDouble
    extra("lsh_join.yield") = edges.toDouble / math.max(1L, rows("lsh_join"))
    extra("verification.triggered") = triggered.toDouble
    extra("verification.span_yield") = spans.toDouble / math.max(1L, triggered)
    extra("tier_gate.broadcast") = if (bhj > 0 && shuffled == 0) 1.0 else 0.0
    extra("connected_components.path") = ccStats.path match {
      case "hint-local" => 0.0; case "local" => 1.0; case "distributed" => 2.0; case _ => -1.0 }
    extra("connected_components.forest_edges") = ccStats.forestEdges.lastOption.getOrElse(0L).toDouble
    extra("connected_components.iterations") = ccStats.iterations.toDouble
    val result = Pipeline.Result("", sigs, cands, verified, tiered, clusters, Nil)
    Chain(wall.toMap, extra.toMap, rows.toMap, window, totalS, gcS, result, docs)
  }

  /** Per-layer task figures of one chain's window. */
  private def layerTasks(c: Chain, tag: String): Map[String, Map[String, Double]] =
    Layers.map { l =>
      val ts = c.window.tasks.filter(t => c.window.stageGroup.get(t.stageId).contains(s"$tag:$l"))
      val skew = ts.groupBy(_.stageId).values.filter(_.size >= 2).map { st =>
        val runs = st.map(_.runMs.toDouble)
        runs.max / math.max(1.0, median(runs))
      }
      l -> Map(
        "task_s" -> ts.map(_.runMs).sum / 1000.0,
        "cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "gc_s" -> ts.map(_.gcMs).sum / 1000.0,
        "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1e6,
        "shuffle_read_mb" -> ts.map(_.shuffleRead).sum / 1e6,
        "spill_mb" -> ts.map(_.spill).sum / 1e6,
        "peak_exec_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakExec).max / 1e6),
        "task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
        "tasks" -> ts.size.toDouble,
        "rows_out" -> c.rows(l).toDouble)
    }.toMap

  /** Wall time of a chain during which no Spark job was running. */
  private def driverOnly(c: Chain): Double = {
    val iv = c.window.jobs.map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    math.max(0.0, c.totalS - covered / 1000.0)
  }

  /** Times the checkpoint store's provider on each stage table of a chain:
    * write, then read back and count. */
  private def tableIo(r: Pipeline.Result): (Double, Double, Double) = {
    val root = new File(a.work, s"tableio/${a.workload}")
    Main.rmTree(root)
    val io = new ParquetDirProvider(root.getAbsolutePath, "")
    val tables = Seq("sigs" -> r.sigs.toDF(), "candidates" -> r.candidates.toDF(),
      "verified" -> r.verified.toDF(), "tiered" -> r.tiered.toDF(), "clusters" -> r.clusters.toDF())
    var w = 0.0; var rd = 0.0
    tables.foreach { case (name, df) =>
      val t0 = System.nanoTime()
      io.write(df, name)
      val t1 = System.nanoTime()
      io.read(spark, name).count()
      w += (t1 - t0) / 1e9; rd += (System.nanoTime() - t1) / 1e9
    }
    val files = tables.map { case (name, _) =>
      Option(new File(root, name).listFiles()).toSeq.flatten.count(_.getName.startsWith("part-"))
    }.sum
    Main.rmTree(root)
    (w, rd, files.toDouble)
  }

  /** Per-call microseconds of `body` over `n` items: median of 5 passes. */
  private def perCallUs(n: Int)(body: => Unit): Double = {
    val passes = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e3 / math.max(1, n)
    }
    median(passes)
  }

  /** The two hot kernels, single-threaded on this workload's data. */
  private def kernels(c: Chain): (Double, Double) = {
    val heads = c.result.sigs.select($"conv_id", $"head_text")
    // pairs the engine's span kernel ran on and found a span in
    val trig = c.result.verified.filter($"max_span_len" > 0).select($"conv_a", $"conv_b")
      .orderBy($"conv_a", $"conv_b").limit(300)
    val pairs = trig
      .join(heads.select($"conv_id".as("conv_a"), $"head_text".as("ha")), "conv_a")
      .join(heads.select($"conv_id".as("conv_b"), $"head_text".as("hb")), "conv_b")
      .select($"ha", $"hb").as[(String, String)].collect()
    val lcs = perCallUs(pairs.length)(pairs.foreach { case (x, y) => SuffixSpans.lcsWithPositions(x, y) })
    val texts = c.docs.orderBy($"conv_id").limit(500).select($"doc_text").as[String].collect()
    val (pa, pb) = Hashing.minhashParams(cfg.numPerms, cfg.minhashSeed)
    val mh = perCallUs(texts.length)(texts.foreach { t =>
      val th = TextKernel.tokenHashesFromNorm(TextKernel.normalize(t))
      TextKernel.minhash(TextKernel.shingleSetFromHashes(th, cfg.shingleK), pa, pb)
    })
    (lcs, mh)
  }

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def measure(): (Boolean, Int, Int, Seq[(String, Double, String)]) = {
    val (cls0, comp0) = org.apache.spark.BenchAccess.codegen()
    val jit0 = jitMs()
    val cold = chain("cold")
    val (cls1, comp1) = org.apache.spark.BenchAccess.codegen()
    val jit1 = jitMs()
    val chainHash = outputHash(cold.result)
    Checks.all(collectOutputs(cold.result), manifest)
    log(f"cold chain ${cold.totalS}%.3f s ${cold.wall.map { case (k, v) => f"$k=$v%.2f" }.mkString(" ")}")

    def rep(tag: String): Chain = {
      val c = chain(tag)
      Checks.sameHash(s"traced chain $tag", chainHash, outputHash(c.result))
      c
    }
    val steady = (1 to TracedSteadyReps).map(i => rep(s"steady$i"))
    val last = steady.last
    log(s"steady chains ${steady.map(c => f"${c.totalS}%.3f").mkString(",")}")

    // the untraced pipeline on the same input must give the chain's outputs
    attempted += 1
    val piped = Pipeline.runPipelined(turns, cfg, runId = "traced_check")
    Checks.sameHash("Pipeline.runPipelined against the traced chain", chainHash, outputHash(piped))
    release(piped)

    val (ioW, ioR, ioFiles) = tableIo(last.result)
    val (lcsUs, mhUs) = kernels(last)
    release(last.result)

    val perLayer = steady.zipWithIndex.map { case (c, i) => layerTasks(c, s"steady${i + 1}") }
    def med(l: String, k: String) = median(perLayer.map(_(l)(k)))
    val units = Map("task_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s", "shuffle_write_mb" -> "MB",
      "shuffle_read_mb" -> "MB", "spill_mb" -> "MB", "peak_exec_mb" -> "MB",
      "task_skew" -> "ratio", "tasks" -> "count", "rows_out" -> "count")
    val layerMetrics = Layers.flatMap { l =>
      Seq((s"$l.wall_s", median(steady.map(_.wall(l))), "s"),
        (s"$l.cold_wall_s", cold.wall(l), "s")) ++
        units.keys.toSeq.sorted.map(k => (s"$l.$k", med(l, k), units(k)))
    }
    val extraUnits = Map("lsh_join.bucket_s" -> "s", "lsh_join.pairs_s" -> "s",
      "lsh_join.salted_buckets" -> "count", "lsh_join.yield" -> "ratio",
      "verification.pass1_s" -> "s", "verification.spans_s" -> "s",
      "verification.triggered" -> "count", "verification.span_yield" -> "ratio",
      "tier_gate.broadcast" -> "flag", "connected_components.path" -> "code",
      "connected_components.forest_edges" -> "count", "connected_components.iterations" -> "count")
    val extras = extraUnits.keys.toSeq.sorted.map(k =>
      (k, median(steady.map(_.extra(k))), extraUnits(k)))
    val spanning = Seq(
      ("pipeline.driver_s", median(steady.map(driverOnly)), "s"),
      ("pipeline.jobs", median(steady.map(_.window.jobs.size.toDouble)), "count"),
      ("codegen.compile_ms", comp1 - comp0, "ms"),
      ("codegen.classes", (cls1 - cls0).toDouble, "count"),
      ("jvm.jit_ms", (jit1 - jit0).toDouble, "ms"),
      ("jvm.gc_s", median(steady.map(_.gcS)), "s"),
      ("table_io.write_s", ioW, "s"),
      ("table_io.read_s", ioR, "s"),
      ("table_io.files", ioFiles, "count"),
      ("kernel.sa_lcs_us", lcsUs, "us"),
      ("kernel.minhash_us", mhUs, "us"))
    val all = layerMetrics ++ extras ++ spanning
    val out = new File(a.work, s"layers/${a.workload}.json")
    out.getParentFile.mkdirs()
    java.nio.file.Files.writeString(out.toPath, json(true, attempted, 0, all) + "\n")
    (true, attempted, 0, all)
  }
}

package perfbench

import java.io.File

final class CheckFailed(msg: String) extends RuntimeException(msg)

/** A pipeline's outputs, collected to the driver. */
final case class Outputs(
  candidates: Seq[(String, String)],
  verified: Seq[(String, String)],
  tiered: Seq[(String, String, String)],  // (conv_a, conv_b, tier)
  clusters: Seq[(String, String, Long)])  // (conv_id, cluster_id, cluster_size)

/**
 * Output checks computed apart from the engine: plain Scala over collected
 * rows and the ground-truth manifest, with a union-find of its own. Each
 * check throws CheckFailed with what it saw.
 */
object Checks {

  val MinRecall = 0.99
  /** Hard-negative pairs may share a cluster in at most this share of the
    * planted hard-negative pairs (plus one, so a small workload is not
    * failed by a single pair). */
  val MaxHardNegShare = 0.05

  private def fail(msg: String): Nothing = throw new CheckFailed(msg)

  def candidatesCanonical(cands: Seq[(String, String)]): Unit = {
    cands.find { case (a, b) => !(a < b) }.foreach(p => fail(s"candidate $p is not canonical (conv_a < conv_b)"))
    if (cands.distinct.size != cands.size)
      fail(s"${cands.size - cands.distinct.size} duplicate candidate pairs")
  }

  def verifiedSubset(verified: Seq[(String, String)], cands: Seq[(String, String)]): Unit = {
    val c = cands.toSet
    val extra = verified.filterNot(c)
    if (extra.nonEmpty) fail(s"${extra.size} verified pairs are not candidates, e.g. ${extra.head}")
  }

  def tieredCount(nTiered: Long, nVerified: Long): Unit =
    if (nTiered != nVerified) fail(s"tiered rows $nTiered != verified rows $nVerified")

  /** Components of an edge list by union-find: vertex -> sorted members. */
  def components(edges: Seq[(String, String)]): Map[String, Set[String]] = {
    val parent = scala.collection.mutable.HashMap[String, String]()
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    val groups = parent.keys.toSeq.groupBy(find).values.map(_.toSet)
    groups.flatMap(g => g.iterator.map(_ -> g)).toMap
  }

  /** The clusters table partitions exactly the endpoints of the tier-A/B
    * edges into their connected components, with correct sizes. */
  def clustersMatchEdges(tiered: Seq[(String, String, String)],
                         clusters: Seq[(String, String, Long)]): Unit = {
    val edges = tiered.collect { case (a, b, t) if t == "A" || t == "B" => (a, b) }
    val want = components(edges)
    val got = clusters.groupBy(_._2).values.map(_.map(_._1).toSet)
    if (clusters.map(_._1).distinct.size != clusters.size) fail("a conversation is in two clusters")
    if (clusters.size != want.size)
      fail(s"clusters hold ${clusters.size} conversations, the A/B edges touch ${want.size}")
    got.foreach { g =>
      val w = want.getOrElse(g.head, fail(s"${g.head} is clustered but has no A/B edge"))
      if (w != g) fail(s"cluster of ${g.head} has ${g.size} members, its component has ${w.size}")
    }
    clusters.foreach { case (id, _, size) =>
      if (size != want(id).size) fail(s"cluster_size $size of $id, component size ${want(id).size}")
    }
  }

  private def clusterOf(clusters: Seq[(String, String, Long)]): Map[String, String] =
    clusters.iterator.map(c => c._1 -> c._2).toMap

  /** Share of should-detect pairs whose two sides share a cluster. */
  def recall(manifest: Seq[Planted], clusters: Seq[(String, String, Long)]): Double = {
    val of = clusterOf(clusters)
    val want = manifest.filter(_.shouldDetect)
    val hit = want.count(p => of.get(p.convA).exists(c => of.get(p.convB).contains(c)))
    val r = hit.toDouble / want.size
    if (r < MinRecall) {
      val missed = want.filterNot(p => of.get(p.convA).exists(c => of.get(p.convB).contains(c)))
      fail(f"recall $r%.4f < $MinRecall ($hit of ${want.size}); missed e.g. " +
        missed.take(5).map(p => s"${p.convA}~${p.convB}(${p.transform})").mkString(", "))
    }
    r
  }

  /** Hard-negative pairs that share a cluster, failed above the bound. */
  def hardNegatives(manifest: Seq[Planted], clusters: Seq[(String, String, Long)]): Int = {
    val of = clusterOf(clusters)
    val negs = manifest.filter(_.kind == "hard_negative")
    val merged = negs.count(p => of.get(p.convA).exists(c => of.get(p.convB).contains(c)))
    val bound = 1 + (negs.size * MaxHardNegShare).toInt
    if (merged > bound) fail(s"$merged hard-negative pairs share a cluster (bound $bound)")
    merged
  }

  def all(o: Outputs, manifest: Seq[Planted]): (Double, Int) = {
    candidatesCanonical(o.candidates)
    verifiedSubset(o.verified, o.candidates)
    tieredCount(o.tiered.size.toLong, o.verified.size.toLong)
    clustersMatchEdges(o.tiered, o.clusters)
    (recall(manifest, o.clusters), hardNegatives(manifest, o.clusters))
  }

  def sameHash(what: String, want: String, got: String): Unit =
    if (want != got) fail(s"$what: output hash $got differs from $want")

  /** Every stage of a resumed run was read from its checkpoint. */
  def allCached(stages: Seq[String], expected: Seq[String]): Unit = {
    val missing = expected.filterNot(s => stages.contains(s + ":cached"))
    if (missing.nonEmpty)
      fail(s"stages recomputed on resume: ${missing.mkString(", ")} (reported ${stages.mkString(", ")})")
  }

  /** The checkpoint namespace holds every stage table, committed, with its
    * lineage table beside it. Returns the namespace directory. */
  def checkpointComplete(ckptRoot: File, stages: Seq[String]): File = {
    val nss = Option(ckptRoot.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .flatMap(d => Option(d.listFiles()).toSeq.flatten.filter(_.isDirectory))
    if (nss.size != 1) fail(s"expected one checkpoint namespace under $ckptRoot, found ${nss.size}")
    val ns = nss.head
    stages.foreach { s =>
      Seq(s, s"lineage_$s").foreach { t =>
        if (!new File(new File(ns, t), "_SUCCESS").isFile) fail(s"checkpoint table $t missing in $ns")
      }
    }
    ns
  }

  /** Lineage rows of each stage sum to the stage's row count. */
  def lineageSums(lineage: Map[String, Long], rows: Map[String, Long]): Unit =
    rows.foreach { case (s, n) =>
      val l = lineage.getOrElse(s, fail(s"no lineage for stage $s"))
      if (l != n) fail(s"lineage of $s sums to $l rows, the stage has $n")
    }
}

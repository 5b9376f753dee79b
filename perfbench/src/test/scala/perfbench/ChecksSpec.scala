package perfbench

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Each output check passes on a correct output and fails on a broken one. */
class ChecksSpec extends AnyFunSuite {

  // a ~ b ~ c form one cluster (a chain: b~c is its only link to c),
  // d ~ e another; h1/h2 are a hard-negative pair kept apart
  private val tiered = Seq(("a", "b", "A"), ("b", "c", "B"), ("d", "e", "A"),
    ("h1", "h2", "other"), ("a", "d", "other"))
  private val clusters = Seq(("a", "a", 3L), ("b", "a", 3L), ("c", "a", 3L),
    ("d", "d", 2L), ("e", "d", 2L))
  private val candidates = tiered.map(t => (t._1, t._2))
  private val good = Outputs(candidates, candidates, tiered, clusters)
  private val manifest = Vector(
    Planted("a", "c", "transformed", "subst10", shouldDetect = true),
    Planted("d", "e", "exact", "exact", shouldDetect = true),
    Planted("h1", "h2", "hard_negative", "hard_negative", shouldDetect = false))

  test("a correct output passes every check") {
    val (recall, merged) = Checks.all(good, manifest)
    assert(recall == 1.0 && merged == 0)
  }

  test("a dropped A/B edge: the clusters no longer match the edges") {
    val broken = good.copy(tiered = tiered.filterNot(_._1 == "b"))
    assertThrows[CheckFailed](Checks.clustersMatchEdges(broken.tiered, broken.clusters))
  }

  test("a dropped A/B edge the clusters follow: recall fails") {
    val clustersNoBC = Seq(("a", "a", 2L), ("b", "a", 2L), ("d", "d", 2L), ("e", "d", 2L))
    Checks.clustersMatchEdges(tiered.filterNot(_._1 == "b"), clustersNoBC)
    assertThrows[CheckFailed](Checks.recall(manifest, clustersNoBC))
  }

  test("a wrong cluster_size fails") {
    val broken = clusters.map(c => if (c._1 == "e") c.copy(_3 = 3L) else c)
    assertThrows[CheckFailed](Checks.clustersMatchEdges(tiered, broken))
  }

  test("a merged hard-negative pair fails") {
    val negs = (0 until 10).map(i => Planted(s"n${i}a", s"n${i}b", "hard_negative", "hard_negative", false))
    val merged = (0 until 2).flatMap(i => Seq((s"n${i}a", s"n${i}a", 2L), (s"n${i}b", s"n${i}a", 2L)))
    assert(Checks.hardNegatives(negs, merged.take(2)) == 1)
    assertThrows[CheckFailed](Checks.hardNegatives(negs, merged))
  }

  test("non-canonical or duplicate candidates fail") {
    assertThrows[CheckFailed](Checks.candidatesCanonical(Seq(("b", "a"))))
    assertThrows[CheckFailed](Checks.candidatesCanonical(Seq(("a", "b"), ("a", "b"))))
  }

  test("a verified pair that is not a candidate fails") {
    assertThrows[CheckFailed](Checks.verifiedSubset(Seq(("a", "z")), candidates))
  }

  test("tiered and verified row counts must agree") {
    assertThrows[CheckFailed](Checks.tieredCount(4L, 5L))
  }

  test("output hashes must agree") {
    Checks.sameHash("rep", "x", "x")
    assertThrows[CheckFailed](Checks.sameHash("rep", "x", "y"))
  }

  test("a stage recomputed on resume fails") {
    val stages = Seq("sigs", "candidates", "verified")
    Checks.allCached(stages.map(_ + ":cached"), stages)
    assertThrows[CheckFailed](Checks.allCached(Seq("sigs:cached", "candidates", "verified:cached"), stages))
  }

  test("a stage table missing from the checkpoint fails") {
    val root = java.nio.file.Files.createTempDirectory("ckpt").toFile
    try {
      val ns = new File(root, "v1-cfg/hash")
      val stages = Seq("sigs", "candidates")
      for (s <- stages; t <- Seq(s, s"lineage_$s")) {
        new File(ns, t).mkdirs()
        new File(new File(ns, t), "_SUCCESS").createNewFile()
      }
      assert(Checks.checkpointComplete(root, stages) == ns)
      Main.rmTree(new File(ns, "candidates"))
      assertThrows[CheckFailed](Checks.checkpointComplete(root, stages))
    } finally Main.rmTree(root)
  }

  test("lineage rows must sum to the stage rows") {
    Checks.lineageSums(Map("sigs" -> 10L), Map("sigs" -> 10L))
    assertThrows[CheckFailed](Checks.lineageSums(Map("sigs" -> 9L), Map("sigs" -> 10L)))
  }
}

package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  Main.Workloads.toSeq.sortBy(_._1).foreach { case (name, spec) =>
    test(s"$name: the same seed gives the same bytes") {
      val (t1, m1) = Gen.generate(spec, 7L)
      val (t2, m2) = Gen.generate(spec, 7L)
      assert(digest(Gen.render(t1, m1)) == digest(Gen.render(t2, m2)))
    }

    test(s"$name: another seed gives another corpus of the same make-up") {
      val (t1, m1) = Gen.generate(spec, 7L)
      val (t2, m2) = Gen.generate(spec, 8L)
      assert(Gen.render(t1, Nil) != Gen.render(t2, Nil))
      assert(t1.map(_.conv_id).distinct.size == t2.map(_.conv_id).distinct.size)
      assert(m1.groupBy(_.kind).view.mapValues(_.size).toMap ==
        m2.groupBy(_.kind).view.mapValues(_.size).toMap)
    }

    test(s"$name: every manifest pair exists in its table") {
      val (turns, manifest) = Gen.generate(spec, 7L)
      val ids = turns.map(_.conv_id).toSet
      manifest.foreach { p =>
        assert(ids(p.convA) && ids(p.convB), s"$p not in the table")
      }
      assert(manifest.count(_.shouldDetect) ==
        spec.nDupSources * Gen.Transforms.size + spec.megaFamilies * (spec.megaSize - 1))
      assert(manifest.count(_.kind == "hard_negative") == spec.nHardNeg)
    }
  }

  test("conversation ids are unique and turn indexes run 0..n-1") {
    val (turns, _) = Gen.generate(Main.Workloads("skewed_corpus"), 3L)
    turns.groupBy(_.conv_id).foreach { case (id, ts) =>
      assert(ts.map(_.turn_idx) == ts.indices, s"$id has turn indexes ${ts.map(_.turn_idx)}")
    }
  }
}

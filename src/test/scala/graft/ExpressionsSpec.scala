package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, TextKernel, TopKMean}
import graft.operators.{DocDedup, Multimodal}

/** Custom Catalyst expressions, typed aggregator, documents-table operators. */
class ExpressionsSpec extends SparkSpec {

  test("SimHash64 expression matches the JVM kernel; codegen path active") {
    import spark.implicits._
    val df = Seq((1L, "Hello, World! foo bar baz"), (2L, "completely different text"))
      .toDF("id", "text")
    val got = df.select($"id", GraftFunctions.simhash64($"text").as("sh"))
      .as[(Long, Long)].collect().toMap
    val want1 = TextKernel.simhash64(TextKernel.tokens(
      TextKernel.normalize("Hello, World! foo bar baz")))
    assert(got(1L) == want1)
    // expression survives a codegen'd plan (filter + projection fused)
    val n = df.filter(GraftFunctions.hamming64(
      GraftFunctions.simhash64($"text"), lit(want1)) === 0).count()
    assert(n == 1)
  }

  // one fixed SQL call per function-table entry; an entry without one fails
  private val tableCalls = Map(
    "simhash64" -> "simhash64('Hello, World! foo bar')",
    "hamming64" -> "hamming64(12345L, 54321L)",
    "jaccard_sorted" -> "jaccard_sorted(array(1L, 2L, 3L, 4L), array(3L, 4L, 5L))",
    "minhash_sig" -> "minhash_sig('a b c d e f g h')",
    "dot_arr" -> "dot_arr(array(1.0D, 2.0D, 3.0D), array(0.5D, -1.0D, 4.0D))",
    "minhash_est" -> "minhash_est(array(1L, 2L, 3L, 4L), array(1L, 2L, 9L, 4L))",
    "pack_low_bytes" -> "pack_low_bytes(array(1L, 258L, -1L))",
    "minhash_est8" -> "minhash_est8(X'01020304AABBCCDD', X'01020399AABBCC00')",
    "hyperplane_sig" -> "hyperplane_sig(array(0.5D, -1.0D, 2.0D, 0.25D))")
  private val tableNames = GraftFunctions.sqlFunctions.map(_._1)

  /** Every table entry evaluated once through `install`, in a fresh
    * session: fresh sessions carry only the built-ins, so the path is seen
    * installing each name by itself. */
  private def tableRow(install: org.apache.spark.sql.SparkSession => Unit) = {
    val s = spark.newSession()
    def resolves(n: String) =
      s.sessionState.catalog.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n))
    assert(tableNames.distinct == tableNames, s"duplicate table entries: $tableNames")
    assert(tableCalls.keySet == tableNames.toSet, s"table $tableNames vs calls ${tableCalls.keys}")
    assert(!tableNames.exists(resolves), "a fresh session already resolves a table name")
    install(s)
    tableNames.foreach(n => assert(resolves(n), s"$n does not resolve"))
    val row = s.sql(tableNames.map(n => s"${tableCalls(n)} AS $n").mkString("SELECT ", ", ", ""))
      .collect().head
    tableNames.indices.foreach(i => assert(!row.isNullAt(i), s"${tableNames(i)} returned null"))
    (s, row)
  }
  private lazy val registered = tableRow(GraftFunctions.register)

  test("expressions usable from SQL after registration") {
    val (s, _) = registered
    s.createDataFrame(Seq(("a b c d e f g", 1))).toDF("text", "x").createOrReplaceTempView("tdocs")
    val r = s.sql(
      "SELECT hamming64(simhash64(text), simhash64(text)) AS d FROM tdocs")
      .collect().head.getInt(0)
    assert(r == 0)
    val sig = s.sql("SELECT minhash_sig(text) AS s FROM tdocs")
      .collect().head.getSeq[Long](0)
    assert(sig.length == 128)
  }

  test("GraftExtensions injects functions (spark.sql.extensions deploy path)") {
    // drive the same hook the builder applies for spark.sql.extensions:
    // collect injections, register into the session's function registry
    val (_, viaRegister) = registered
    val (_, viaExtensions) = tableRow { s =>
      val ext = new org.apache.spark.sql.SparkSessionExtensions
      new GraftExtensions().apply(ext)
      org.apache.spark.sql.graft.Bridge.applyFunctionInjections(ext, s)
    }
    // both registration paths read one table: same value for every entry
    tableNames.indices.foreach { i =>
      val (a, b) = (viaRegister.get(i), viaExtensions.get(i))
      assert((a, b) match {
        case (x: Array[Byte], y: Array[Byte]) => x.sameElements(y)
        case _ => a == b
      }, s"${tableNames(i)}: register $a vs extensions $b")
    }
    assert(viaExtensions.getAs[Long]("simhash64") == TextKernel.simhash64(
      TextKernel.tokens(TextKernel.normalize("Hello, World! foo bar"))))
    assert(viaExtensions.getSeq[Long](tableNames.indexOf("minhash_sig")).length == 128)
  }

  test("pack_low_bytes + minhash_est8: debiased 8-bit b-bit minwise estimate") {
    import spark.implicits._
    val pack = GraftFunctions.pack_low_bytes _
    // identical signatures → est exactly 1.0 (debias maps raw 1 → 1)
    val a = Array.tabulate(128)(i => graft.functions.Hashing.mix64(i.toLong))
    val same = Seq((a, a)).toDF("a", "b")
    assert(same.select(GraftFunctions.minhash_est8(pack($"a"), pack($"b")))
      .head().getDouble(0) == 1.0)
    // 96/128 agreeing full components → raw ≥ 96/128 (low-byte false matches
    // can only ADD); debiased est = (raw − 2⁻⁸)/(1 − 2⁻⁸) exactly
    val b = Array.tabulate(128)(i =>
      if (i < 96) a(i) else graft.functions.Hashing.mix64(1000L + i))
    val est8 = Seq((a, b)).toDF("a", "b")
      .select(GraftFunctions.minhash_est8(pack($"a"), pack($"b")))
      .head().getDouble(0)
    val eq = (0 until 128).count(i => (a(i) & 255L) == (b(i) & 255L))
    assert(eq >= 96)
    assert(est8 == math.max(0.0, (eq / 128.0 - 1.0 / 256) / (1.0 - 1.0 / 256)))
    assert(math.abs(est8 - 96.0 / 128) < 3.0 / 128,
      "false-match inflation must stay within a few positions")
    // disjoint low bytes → raw 0 → debias clamps at 0 (never negative)
    val z1 = Array.tabulate(128)(_ => 0x0101L)
    val z2 = Array.tabulate(128)(_ => 0x0202L)
    assert(Seq((z1, z2)).toDF("a", "b")
      .select(GraftFunctions.minhash_est8(pack($"a"), pack($"b")))
      .head().getDouble(0) == 0.0)
    // packed payload is numPerms BYTES (the shuffle-width contract)
    val packed = Seq(Tuple1(a)).toDF("a").select(pack($"a"))
      .head().getAs[Array[Byte]](0)
    assert(packed.length == 128)
    assert(packed(0) == (a(0) & 0xFFL).toByte)
    // kernel contract: empty input → 0.0, not a throw
    assert(TextKernel.minhashEstimate8(Array.empty, Array.empty) == 0.0)
    // survives a codegen'd plan (filter + projection fused)
    assert(Seq((a, b)).toDF("a", "b")
      .filter(GraftFunctions.minhash_est8(pack($"a"), pack($"b")) > 0.5)
      .count() == 1)
  }

  test("jaccard_sorted expression equals kernel") {
    import spark.implicits._
    val df = Seq((Array(1L, 2L, 3L, 4L), Array(3L, 4L, 5L, 6L))).toDF("a", "b")
    val v = df.select(GraftFunctions.jaccard_sorted($"a", $"b")).head().getDouble(0)
    assert(math.abs(v - 2.0 / 6) < 1e-12)
  }

  test("DotArr expression: codegen'd dot product of double arrays") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    assert(df.select(GraftFunctions.dot_arr($"a", $"b")).head().getDouble(0) == 32.0)
    // inside a filter so it must survive a codegen'd plan
    assert(df.filter(GraftFunctions.dot_arr($"a", $"b") > 31.0).count() == 1)
  }

  test("DotArr on raw float arrays ≡ DotArr on cast-to-double arrays, bit-exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{transform => atransform}
    // values chosen to exercise inexact float representations (0.1f etc.)
    val df = Seq((Array(0.1f, 2.7f, -3.33f, 1e-8f), Array(4.2f, -0.5f, 6.125f, 3f)))
      .toDF("a", "b")
    val viaFloat = df.select(GraftFunctions.dot_arr($"a", $"b")).head().getDouble(0)
    val viaCast = df.select(GraftFunctions.dot_arr(
      atransform($"a", x => x.cast("double")),
      atransform($"b", x => x.cast("double")))).head().getDouble(0)
    assert(java.lang.Double.doubleToLongBits(viaFloat) ==
      java.lang.Double.doubleToLongBits(viaCast))
    // mixed float/double sides work too
    val mixed = df.select(GraftFunctions.dot_arr($"a",
      atransform($"b", x => x.cast("double")))).head().getDouble(0)
    assert(java.lang.Double.doubleToLongBits(mixed) ==
      java.lang.Double.doubleToLongBits(viaCast))
  }

  test("Sketch32/Blocks32 ≡ array_distinct(transform(shiftright.cast)) on sorted inputs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array_distinct, transform => atransform, shiftright}
    // sorted ascending with: negative longs, values sharing the high 32
    // bits (adjacent dedup must fire), and int-boundary values
    val a = Array(Long.MinValue, Long.MinValue + 5L, -4294967296L, -1L,
      0L, 7L, (3L << 32) | 1L, (3L << 32) | 9L, Long.MaxValue - 1, Long.MaxValue)
    val blocks = Array(a.take(4), Array.empty[Long], a.drop(4))
    val df = Seq((a, blocks)).toDF("sk", "bk")
    val viaKernel = df.select(GraftFunctions.sketch32($"sk")).head().getSeq[Int](0)
    val viaHof = df.select(array_distinct(
      atransform($"sk", v => shiftright(v, 32).cast("int")))).head().getSeq[Int](0)
    assert(viaKernel === viaHof)
    val bKernel = df.select(GraftFunctions.blocks32($"bk")).head().getSeq[Seq[Int]](0)
    val bHof = df.select(atransform($"bk", x => array_distinct(
      atransform(x, v => shiftright(v, 32).cast("int"))))).head().getSeq[Seq[Int]](0)
    assert(bKernel === bHof)
  }

  test("lsh_items ≡ explode(concat(transform(bands), transform(bundle))) incl. Spark xxhash64 parity") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat => aconcat, transform => atransform, struct, lit, xxhash64, explode}
    // arbitrary band keys (negative, extreme) and bundle hashes; also an
    // empty-bundle and empty-bands shape
    val rows = Seq(
      (Array(-1L, 0L, Long.MinValue, Long.MaxValue, 42L),
       Array(7L, -9223372036854775807L, 0L, 123456789L)),
      (Array.empty[Long], Array(5L)),
      (Array(99L), Array.empty[Long]))
    val df = rows.toDF("bands", "simhash_bundle")
    val viaKernel = df.select(explode(GraftFunctions.lsh_items($"bands", $"simhash_bundle")).as("e"))
      .select($"e.bkey", $"e.band_id", $"e.src").collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val viaHof = df.select(explode(aconcat(
        atransform($"bands", (k, i) => struct(k.as("bkey"), i.as("band_id"), lit(0).as("src"))),
        atransform($"simhash_bundle", (v, i) => struct(xxhash64(i, v).as("bkey"),
          lit(-1).as("band_id"), lit(1).as("src"))))).as("e"))
      .select($"e.bkey", $"e.band_id", $"e.src").collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(viaKernel === viaHof) // variant bkey = Spark's xxhash64(v_id, v_hash), bit-exact
  }

  test("TopKMean aggregator: mean of k largest, partial-merge safe") {
    import spark.implicits._
    val topk = udaf(TopKMean(3))
    val df = (1 to 10).map(i => ("g", i.toDouble)).toDF("g", "v")
      .repartition(4) // force partial aggregation + merge
    val got = df.groupBy($"g").agg(topk($"v").as("m")).head().getDouble(1)
    assert(math.abs(got - 9.0) < 1e-12) // mean of 10, 9, 8
    // group smaller than k
    val small = Seq(("g", 2.0), ("g", 4.0)).toDF("g", "v")
    assert(math.abs(small.groupBy($"g").agg(topk($"v")).head().getDouble(1) - 3.0) < 1e-12)
  }

  test("simhash near-pair scan finds the planted near-duplicate first") {
    import spark.implicits._
    val base = (0 until 30).map { i =>
      val words = (0 until 60).map(j => "tok" +
        java.lang.Long.toHexString(graft.functions.Hashing.mix64(i * 997L + j)))
      (i.toLong, words.mkString(" "))
    }
    val nearDup = (100L, base.head._2 + " tiny tail change")
    val docs = (base :+ nearDup).toDF("doc_id", "text")
    val top = DocDedup.simhashNearPairs(docs, topN = 1).collect().head
    assert((top.getLong(0), top.getLong(1)) == (0L, 100L))
  }

  test("multimodal plumbing: manifest + batched stub features") {
    import spark.implicits._
    val docs = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma")).toDF("doc_id", "text")
    val manifest = Multimodal.mediaManifest(docs).collect()
    assert(manifest.map(_.getString(1)).toSet == Set("image", "audio", "video"))
    val feats = Multimodal.featurize(Multimodal.asMedia(docs)).collect()
    assert(feats.forall(_.feature.length == 8))
    // deterministic: same payload → same feature
    val feats2 = Multimodal.featurize(Multimodal.asMedia(docs)).collect()
    assert(feats.sortBy(_.doc_id).zip(feats2.sortBy(_.doc_id))
      .forall { case (a, b) => a.feature.sameElements(b.feature) })
  }

  test("multimodal frame sampling + resize: fixed shapes, every-kth frames") {
    import spark.implicits._
    val long = (0 until 300).map(i => ('a' + i % 26).toChar).mkString
    val docs = Seq((0L, long), (1L, "tiny")).toDF("doc_id", "text")
    val frames = Multimodal.frameSample(Multimodal.asMedia(docs),
      frameBytes = 64, everyK = 4).collect()
    // 300 bytes → 5 frames (0..4), every 4th kept → frames 0 and 4
    val f0 = frames.filter(_.doc_id == 0L).map(_.frame_idx).sorted
    assert(f0.toSeq == Seq(0, 4), s"frames=${f0.toSeq}")
    assert(frames.find(f => f.doc_id == 0L && f.frame_idx == 4).get.n_bytes == 44)
    assert(frames.filter(_.doc_id == 1L).map(_.frame_idx).toSeq == Seq(0))
    // resize: constant output dim regardless of payload size; mean-byte range
    val rs = Multimodal.resize(Multimodal.asMedia(docs), dim = 16).collect()
    rs.foreach { r =>
      val v = r.getSeq[Double](2)
      assert(v.length == 16 && v.forall(x => x >= 0.0 && x <= 255.0))
    }
  }

  test("embedding LSH buckets: deterministic, bounded, same-vector same-bucket") {
    import spark.implicits._
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(64)(d =>
        (graft.functions.Hashing.mix64(i * 64L + d).toFloat / Long.MaxValue)), 0)
    }.toDF("vec_id", "embedding", "label")
    val b1 = DocDedup.embeddingLshBuckets(vecs).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val b2 = DocDedup.embeddingLshBuckets(vecs).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(b1 == b2)
    assert(b1.values.forall(b => b >= 0 && b < (1L << 12)))
  }

  test("norm_alnum ≡ trim(regexp_replace(lower(s), '[^a-z0-9]+', ' ')) on every input shape") {
    import spark.implicits._
    // ASCII, mixed case, digit/letter runs, punctuation runs, leading/
    // trailing junk, empties, multi-byte chars (each byte outside [a-z0-9]),
    // a char that LOWERCASES into the class (Kelvin sign → 'k'), and a
    // special-casing char (İ → i + combining dot)
    val samples = Seq("Hello,   World!", "  ..a1B2c3..  ", "", "   ", "!!!",
      "ÄÖÜ über straße", "naïve café", "日本語 text", "a\tb\nc", "x", "K9",
      "KELVIN", "İstanbul", "a-b_c.d", "ALL CAPS 123")
    val df = samples.toDF("s")
    val got = df.select(
      GraftFunctions.norm_alnum($"s").as("k"),
      trim(regexp_replace(lower($"s"), "[^a-z0-9]+", " ")).as("r")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"norm_alnum diverged on ${r}"))
    // null propagates like the regex chain
    val n = Seq[(Integer, String)]((1, null)).toDF("i", "s")
      .select(GraftFunctions.norm_alnum($"s")).collect()
    assert(n.head.isNullAt(0))
  }

  test("trigram_hashes: distinctness ≡ string-trigram distinctness; short-doc empty") {
    import spark.implicits._
    def stringTrigrams(norm: String): Set[Seq[String]] = {
      val t = norm.split(' ')
      if (norm.isEmpty || t.length < 3) Set.empty
      else t.sliding(3).map(_.toSeq).toSet
    }
    val texts = Seq(
      "a b c d e f", "a b c a b c a b c", "x y", "", "one two three",
      "the quick brown fox jumps over the quick brown fox")
    val got = texts.toDF("s")
      .select(size(GraftFunctions.trigram_hashes($"s")).as("n")).as[Int].collect()
    texts.zip(got).foreach { case (s, n) =>
      assert(n == stringTrigrams(s).size, s"count diverged on '$s'")
    }
    // shared-trigram counting (the quantity ngram_jaccard aggregates):
    // hash-set intersection size == string-trigram intersection size
    val a = "u v w x y z"; val b = "p q u v w x r s"
    val Array(ha, hb) = Seq(a, b).toDF("s")
      .select(GraftFunctions.trigram_hashes($"s")).as[Seq[Long]].collect()
    assert(ha.toSet.intersect(hb.toSet).size ==
      stringTrigrams(a).intersect(stringTrigrams(b)).size)
  }

  test("lower_prefix ≡ regexp_extract(s, '^[a-z]+', 0)") {
    import spark.implicits._
    val samples = Seq("c0001", "dup42", "hnx9", "X1", "", "9a", "abc", "a",
      "über", "ábc", "mixedCASE")
    val got = samples.toDF("s").select(
      GraftFunctions.lower_prefix($"s").as("k"),
      regexp_extract($"s", "^[a-z]+", 0).as("r")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"lower_prefix diverged on ${r}"))
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = withLogLevel(Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),          // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),          // near dup of 1
    (4L, "completely unrelated text about spark engines roaring"),
    (5L, "The Quick Brown Fox Jumps Over The Lazy Dog"),          // case variant of 1
    (6L, "dog lazy the over jumps fox brown quick the")            // permutation of 1
  ).toDF("doc_id", "text"))

  test("corpusOverlapKmv: exact arm equals set arithmetic; estimate arm within 3σ") {
    // below k every output is EXACT set arithmetic over the gram sets:
    // A = {"a b c", "x y z"}, B = {"a b c", "p q r"} (3-token docs stay
    // single grams at n=8) ⇒ union 3, intersection 1, J = 1/3
    val a = withLogLevel(Seq("a b c", "x y z").toDF("text"))
    val b = withLogLevel(Seq("a b c", "p q r").toDF("text"))
    val r = Dedup.corpusOverlapKmv(a, b, "text").head()
    assert((r.getLong(0), r.getLong(2), r.getLong(4), r.getLong(6)) ===
      ((2L, 2L, 3L, 1L)), r.toString)
    assert(r.getLong(1) === 2L && r.getLong(3) === 2L && r.getLong(5) === 3L)
    assert(r.getLong(7) === 1L)               // est_inter = 1·3/3
    assert(r.getLong(8) === 333333L)          // floor(1e6/3)
    // estimate arm: 5000 vs 5000 single-gram docs sharing 2500
    // ⇒ true J = 2500/7500 = 1/3; k=256 ⇒ σ(J) ≈ √(J(1−J)/k) ≈ 0.029
    val big1 = withLogLevel(
      spark.range(0, 5000).selectExpr("concat('g', id) as text"))
    val big2 = withLogLevel(
      spark.range(2500, 7500).selectExpr("concat('g', id) as text"))
    val e = Dedup.corpusOverlapKmv(big1, big2, "text", k = 256).head()
    val j = e.getLong(8) / 1e6
    assert(math.abs(j - 1.0 / 3) < 0.09, s"jaccard $j vs 1/3 outside 3σ")
    assert(math.abs(e.getLong(5) - 7500.0) / 7500.0 < 0.20,
      s"union est ${e.getLong(5)} vs 7500")
    assert(e.getLong(7) <= e.getLong(5), "intersection ≤ union")
  }

  test("corpusOverlapKmvStored: persisted sketch roundtrip is bit-identical to fresh") {
    val a = docs.filter(col("doc_id") % 2 === 1)
    val b = docs.filter(col("doc_id") % 2 === 0)
    val fresh = Dedup.corpusOverlapKmv(a, b, "text", n = 8).collect().toSeq
    val path = java.nio.file.Files
      .createTempDirectory("kmv_sketch").toString + "/corpus_a"
    val built = graft.ops.KmvSketchStore.build(a, "text", path, shingleN = 8)
    val rt = graft.ops.KmvSketchStore.read(spark, path)
    assert(rt.k === built.k && rt.shingleN === built.shingleN)
    assert(rt.hashes.toSeq === built.hashes.toSeq,
      "read must reproduce the written sketch exactly")
    val stored = Dedup.corpusOverlapKmvStored(b, "text", rt).collect().toSeq
    assert(stored === fresh,
      "stored-sketch overlap must be bit-identical to sketching both sides")
  }

  test("containment readout covers the asymmetric-size blind spot") {
    // 200-gram corpus FULLY CONTAINED in a 5000-gram corpus: Jaccard
    // legitimately reads ~4% (the blind spot the scaladoc documents),
    // while containment of the small side reads 100% — and EXACTLY so,
    // because with A ⊆ B the union sketch IS K_B, so every retained
    // A-hash is also a retained B-hash (n_both = n_a_in_u)
    val small = withLogLevel(
      spark.range(0, 200).selectExpr("concat('g', id) as text"))
    val big = withLogLevel(
      spark.range(0, 5000).selectExpr("concat('g', id) as text"))
    val r = Dedup.corpusOverlapKmv(small, big, "text", k = 256).head()
    assert(r.getLong(8) / 1e6 < 0.1,
      s"jaccard ${r.getLong(8)} should be small for asymmetric sizes")
    assert(r.getLong(9) === 1000000L,
      s"containment of the fully-contained side must read 1e6, got ${r.getLong(9)}")
    assert(r.getLong(10) / 1e6 < 0.15,
      s"containment of the big side should be ~4%, got ${r.getLong(10)}")
  }

  test("exact dedup groups identical content, keeps min id") {
    val r = Dedup.exact(docs, "text", "doc_id").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r.length === 5) // 1&2 merge; 3,4,5,6 distinct byte-wise
    val dupGroup = r.filter(_._3 == 2)
    assert(dupGroup.length === 1 && dupGroup.head._2 === 1L)
  }

  test("exactSurvivors keeps one row per distinct text") {
    val ids = Dedup.exactSurvivors(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(ids === Set(1L, 3L, 4L, 5L, 6L))
  }

  test("exactSurvivors shuffles digests, not document text") {
    val plan = Dedup.exactSurvivors(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("text"),
      s"the aggregation shuffle must carry md5 digests, not text:\n$exchanges")
  }

  test("word-set Jaccard finds near and case/permutation dups") {
    val pairs = Dedup.wordJaccardPairs(docs, "text", "doc_id", 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // lowercased word SETS: 1,2,5,6 identical; 3 shares 8/10 words (j=0.8)
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 5L)) &&
      pairs.contains((1L, 6L)) && pairs.contains((2L, 5L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("cosine count pairs: identical bags (case/permutation) at cos=1, none across unrelated") {
    val pairs = Dedup.cosineCountPairs(docs, "text", "doc_id", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // tokens() lowercases: 1,2,5,6 have IDENTICAL term-count bags (6 is a
    // permutation — bag-of-words is order-blind) => all 6 pairs at cos=1
    val family = Set(1L, 2L, 5L, 6L)
    val expected = for (a <- family; b <- family if a < b) yield (a, b)
    assert(expected.subsetOf(pairs))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("cosine count pairs: BOTH tiers ≡ brute force, exact integer threshold") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val base = (1L to 60L).map { i =>
      val n = 5 + rnd.nextInt(40)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // planted near-identical family so the top threshold is non-degenerate
    val rows = base ++ Seq(61L -> base.head._2, 62L -> (base.head._2 + " alpha"))
    val d = withLogLevel(rows.toDF("doc_id", "text"))
    val bags: Map[Long, Map[String, Long]] = rows.map { case (id, text) =>
      id -> text.split(" ").groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    }.toMap
    def n2(b: Map[String, Long]): BigInt =
      b.values.map(v => BigInt(v) * v).sum
    def dot(a: Map[String, Long], b: Map[String, Long]): BigInt =
      a.iterator.map { case (w, v) => BigInt(v) * BigInt(b.getOrElse(w, 0L)) }.sum
    for (t <- Seq(0.7, 0.9, 0.97)) {
      val p = BigInt(math.round(t * 1e6)); val q = BigInt(1000000)
      val expected = (for {
        a <- bags.keys; b <- bags.keys if a < b
        dp = dot(bags(a), bags(b))
        if q * q * dp * dp >= p * p * n2(bags(a)) * n2(bags(b))
      } yield (a, b, dp.toLong, n2(bags(a)).toLong, n2(bags(b)).toLong)).toSet
      // the 10-word vocabulary selects the dense nested-loop tier by
      // default; denseMaxVocab = 0 pins the prefix-join tier on the SAME
      // corpus — both must equal brute force (hence each other) exactly
      val dense = Dedup.cosineCountPairs(d, "text", "doc_id", t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      val prefixTier = Dedup.cosineCountPairs(d, "text", "doc_id", t, 0L, 0L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(dense === expected, s"dense tier, threshold $t")
      assert(prefixTier === expected, s"prefix tier, threshold $t")
      assert(expected.nonEmpty, s"degenerate spec corpus at threshold $t")
    }
  }

  test("paragraph duplicates: cross-doc verbatim paragraphs counted, same-doc repeats ignored") {
    val df = Seq(
      (1L, "unique intro\nshared footer text\nunique body one"),
      (2L, "another page\nshared footer text"),
      (3L, "solo doc\nrepeated para\nrepeated para"),   // same-doc repeat only
      (4L, "totally unique content")
    ).toDF("doc_id", "text")
    val r = Dedup.paragraphDuplicates(df, "text", "doc_id").collect()
      .map(x => x.getLong(0) -> x).toMap
    def n(id: Long, f: String) = r(id).getLong(r(id).fieldIndex(f))
    assert(n(1L, "n_paragraphs") === 3L && n(1L, "n_dup_paragraphs") === 1L)
    assert(n(1L, "dup_chars") === "shared footer text".length.toLong)
    assert(n(2L, "n_dup_paragraphs") === 1L)
    assert(n(3L, "n_dup_paragraphs") === 0L, "same-doc repeats are not cross-doc dups")
    assert(n(4L, "n_dup_paragraphs") === 0L)
    assert(n(3L, "paragraph_chars") ===
      "solo doc".length + 2L * "repeated para".length)
  }

  test("paragraph duplicates ≡ brute force on random shared-paragraph docs") {
    val rnd = new scala.util.Random(23)
    val paras = Vector("shared footer", "nav menu", "body one", "body two",
      "unique " + "x", "plain paragraph")
    val rows = (1L to 50L).map { i =>
      val k = 1 + rnd.nextInt(5)
      val shared = Seq.fill(k)(paras(rnd.nextInt(paras.size)))
      // genuinely per-doc paragraphs so docs mix dup and non-dup
      val own = if (i % 2 == 0) Seq(s"only in document $i") else Nil
      (i, rnd.shuffle(shared ++ own).mkString("\n"))
    }
    val byDoc = rows.map { case (id, t) => id -> t.split("\n", -1).toSeq }
    val dupSet = byDoc.flatMap { case (id, ps) => ps.distinct.map(_ -> id) }
      .groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2).keySet
    val expected = byDoc.map { case (id, ps) =>
      (id, ps.size.toLong, ps.count(dupSet).toLong,
        ps.filter(dupSet).map(_.length.toLong).sum,
        ps.map(_.length.toLong).sum)
    }.toSet
    val got = Dedup.paragraphDuplicates(rows.toDF("doc_id", "text"),
        "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got === expected)
    assert(expected.exists(e => e._3 > 0 && e._3 < e._2),
      "corpus must mix dup and non-dup paragraphs")
  }

  test("minhash candidates achieve full recall on exact-set dups and verify by jaccard") {
    val dups = Dedup.minhashDuplicates(docs, "text", "doc_id", 0.9,
        numHashes = 64, bands = 16, shingleSize = 1)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical shingle sets always collide in every band => guaranteed recall
    val expected = Set((1L, 2L), (1L, 5L), (1L, 6L), (2L, 5L), (2L, 6L), (5L, 6L))
    assert(expected.subsetOf(dups))
    assert(!dups.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash matches exact jaccard pairs on the testdata corpus") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = Dedup.wordJaccardPairs(d, "text", "doc_id", 0.999)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashDuplicates(d, "text", "doc_id", 0.999,
        numHashes = 64, bands = 16, shingleSize = 1)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // j=1.0 pairs (identical word sets) are guaranteed LSH collisions:
    // recall must be perfect, and verification keeps precision exact.
    assert(mh === exact)
    assert(exact.nonEmpty, "testdata should contain identical-word-set pairs")
  }

  test("cross-corpus minhash pairs a batch only against the corpus side") {
    val batch = docs.filter(col("doc_id") <= 2L)   // ids 1 (dup family), 2
    val corpus = docs.filter(col("doc_id") > 2L)   // ids 3..6
    val pairs = Dedup.minhashCrossCorpus(batch, corpus, "text", "doc_id",
        0.9, numHashes = 64, bands = 16, shingleSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical word sets across sides must pair; within-side dup (1,2)
    // and unrelated doc 4 must not appear
    assert(pairs === Set((1L, 5L), (1L, 6L), (2L, 5L), (2L, 6L)))
  }

  test("embeddingCrossCorpusLSH recovers planted cross pairs only") {
    val rnd = new scala.util.Random(11)
    val corpus = withLogLevel((0L until 40L).map { i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("id", "v"))
    // batch = scaled copies of ids 0..9 (cos = 1.0 vs their original)
    val batch = corpus.filter(col("id") < 10L).select(
      (col("id") + 100L).as("id"),
      transform(col("v"), x => x * lit(2.0f)).as("v"))
    val pairs = Dedup.embeddingCrossCorpusLSH(batch, corpus, "v", "id",
        threshold = 0.95, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === (0L until 10L).map(i => (i + 100L, i)).toSet)
  }

  test("newAgainstCorpus keeps only batch rows without a corpus near-dup") {
    val batch = docs.filter(col("doc_id") <= 2L)
      .unionByName(Seq((7L, "entirely new content nothing shares"))
        .toDF("doc_id", "text"))
    val corpus = docs.filter(col("doc_id") > 2L)
    val kept = Dedup.newAgainstCorpus(batch, corpus, "text", "doc_id",
        0.9, numHashes = 64, bands = 16, shingleSize = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(7L))
  }

  test("simhash flags permutation/case variants as hamming-0") {
    val r = Dedup.simhashDuplicates(docs, "text", "doc_id", 0)
      .select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // token multisets of 1,2,5,6 identical after lowercasing => same signature
    assert(Set((1L, 2L), (1L, 5L), (1L, 6L)).subsetOf(r))
  }

  test("simhashExactDuplicates returns exactly the lowered-text dup pairs") {
    val r = Dedup.simhashExactDuplicates(docs, "text", "doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // 1, 2, 5 share lowered TEXT; 6 is a permutation (same signature,
    // different text) and must be verified away; 3 is a near-dup (≠ sig).
    assert(r === Set((1L, 2L), (1L, 5L), (2L, 5L)))
  }

  test("simhash recall holds with wider hashed bands (bands=8)") {
    val r = Dedup.simhashDuplicates(docs, "text", "doc_id", 0, bands = 8)
      .select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(Set((1L, 2L), (1L, 5L), (1L, 6L)).subsetOf(r))
    assertThrows[IllegalArgumentException] {
      Dedup.simhashDuplicates(docs, "text", "doc_id", maxHamming = 4, bands = 4)
    } // bands must exceed maxHamming for the pigeonhole recall guarantee
  }

  test("bucket-skew guard drops planted mega-buckets, keeps small ones") {
    // 120 identical docs fill one bucket per band (size 120 > cap 50);
    // ids 900/901 are a distinct near-dup pair in their own tiny buckets.
    val mega = (0 until 120).map(i => (i.toLong, "boiler plate page body"))
    val pair = Seq(
      (900L, "rare unique sentence alpha beta gamma"),
      (901L, "rare unique sentence alpha beta gamma"))
    val df = (mega ++ pair).toDF("doc_id", "text")
    val mh = Dedup.minhashCandidates(df, "text", "doc_id",
        numHashes = 64, bands = 16, shingleSize = 1, maxBucketSize = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh === Set((900L, 901L)),
      s"mega-bucket must be dropped, small bucket kept: $mh")
    val sh = Dedup.simhashDuplicates(df, "text", "doc_id", 0, maxBucketSize = 50)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh === Set((900L, 901L)))
    // guard off (<= 0): the mega-bucket pairs all come back
    val unguarded = Dedup.minhashCandidates(df, "text", "doc_id",
        numHashes = 64, bands = 16, shingleSize = 1, maxBucketSize = 0).count()
    assert(unguarded === 120L * 119 / 2 + 1)
  }

  test("guard drop WARN still fires through the fused observe metric (r16)") {
    // r16 folded the guard's separate stats job into the main action
    // (observe() on the broadcast build side); the r13/r14-audited
    // "caps are never silent" property now rides the listener — pin
    // that (a) the metric is observed at all (CollectMetrics survives
    // the broadcast build under AQE), and (b) a planted mega-bucket
    // drop sets the WARN state with the right counts.
    import graft.ops.GuardMetrics
    GuardMetrics.lastDrop = None
    val seen0 = GuardMetrics.seen.get()
    val mega = (0 until 120).map(i => (i.toLong, "boiler plate page body"))
    val pair = Seq(
      (900L, "rare unique sentence alpha beta gamma"),
      (901L, "rare unique sentence alpha beta gamma"))
    val df = (mega ++ pair).toDF("doc_id", "text")
    withLogLevel {
      Dedup.minhashCandidates(df, "text", "doc_id",
        numHashes = 64, bands = 16, shingleSize = 1, maxBucketSize = 50).count()
    }
    // listener bus delivery is asynchronous — poll
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (GuardMetrics.lastDrop.isEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(GuardMetrics.seen.get() > seen0,
      "guard metric was never observed — CollectMetrics did not surface")
    val (op, nb, nr) = GuardMetrics.lastDrop.getOrElse(
      fail("drop WARN state never set — the loud-cap property broke"))
    assert(op === "minhashCandidates")
    // 16 bands × one mega bucket each; if the self-join executes the
    // metric subtree twice (no exchange reuse) counts double — accept
    // k×16 with rows consistent
    assert(nb % 16 === 0 && nb > 0, s"nb = $nb")
    assert(nr === nb * 120, s"nr = $nr for nb = $nb")
  }

  test("guard drop is reported when the action fails after the guard ran") {
    // the guard's build side runs first; a non-deterministic UDF that
    // throws on every candidate pair then fails the main action, which
    // the listener sees only through onFailure. 130 copies, not the 120
    // of the tests above, so a late event from them cannot pass this one
    import graft.ops.GuardMetrics
    GuardMetrics.lastDrop = None
    val mega = (0 until 130).map(i => (i.toLong, "boiler plate page body"))
    val pair = Seq(
      (900L, "rare unique sentence alpha beta gamma"),
      (901L, "rare unique sentence alpha beta gamma"))
    val df = (mega ++ pair).toDF("doc_id", "text")
    val boom = udf((id: Long) => {
      if (id >= 0) throw new IllegalStateException("planted failure after the guard")
      id
    }).asNondeterministic()
    val candidates = Dedup.minhashCandidates(df, "text", "doc_id",
      numHashes = 64, bands = 16, shingleSize = 1, maxBucketSize = 50)
    withLogLevel {
      intercept[Exception](candidates.select(boom(col(candidates.columns(0)))).collect())
    }
    def reported = GuardMetrics.lastDrop.exists { case (_, nb, nr) => nb > 0 && nr == nb * 130 }
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (!reported && System.nanoTime() < deadline) Thread.sleep(50)
    assert(reported, s"a guard drop in a failed action went unreported: ${GuardMetrics.lastDrop}")
    assert(GuardMetrics.lastDrop.map(_._1) === Some("minhashCandidates"))
  }

  test("bucket-skew guard on every banded operator: only the small pair survives, the drop names its op") {
    import graft.ops.{GuardMetrics, Multimodal}
    // 140 rows share one bucket per band (cap 50); 900/901 are a near-dup
    // pair in buckets of their own. A cross-corpus side under test holds
    // the 140 rows, the other side one row of the same bucket (1000), so
    // the drop is that side's guard alone. 140, not the 120/130 of the
    // tests above, so a late drop event from them cannot pass a row here.
    val cap = 50
    val mega = 0 until 140
    def text(ids: Seq[Int], pair: Long) =
      (ids.map(i => (i.toLong, "boiler plate page body")) :+
        ((pair, "rare unique sentence alpha beta gamma"))).toDF("doc_id", "text")
    def vecs(ids: Seq[Int], pair: Long) =
      (ids.map(i => (i.toLong, Array(0.6f, 0.8f, 0f, 0f))) :+
        ((pair, Array(0f, 0f, 0.6f, 0.8f)))).toDF("vec_id", "embedding")
    val textSelf = text(mega, 900L).union(text(Nil, 901L))
    val vecSelf = vecs(mega, 900L).union(vecs(Nil, 901L))
    def mh(a: Seq[Int], b: Seq[Int]) = Dedup.minhashCrossCorpus(text(a, 900L),
      text(b, 901L), "text", "doc_id", 0.5, shingleSize = 1, maxBucketSize = cap)
    def emb(a: Seq[Int], b: Seq[Int]) = Dedup.embeddingCrossCorpusLSH(vecs(a, 900L),
      vecs(b, 901L), "embedding", "vec_id", 0.99, dim = 4, numPlanes = 16,
      maxBucketSize = cap)
    def embSelf = Dedup.embeddingNearDupPairsLSH(vecSelf, "embedding", "vec_id",
      0.99, dim = 4, numPlanes = 16, maxBucketSize = cap)
    val guarded: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "minhashCandidates" -> (() => Dedup.minhashCandidates(textSelf, "text", "doc_id",
        shingleSize = 1, maxBucketSize = cap)),
      "minhashDuplicates" -> (() => Dedup.minhashDuplicates(textSelf, "text", "doc_id",
        0.5, shingleSize = 1, maxBucketSize = cap)),
      "minhashCrossCorpus(batch)" -> (() => mh(mega, Seq(1000))),
      "minhashCrossCorpus(corpus)" -> (() => mh(Seq(1000), mega)),
      "simhashDuplicates" -> (() => Dedup.simhashDuplicates(textSelf, "text", "doc_id",
        0, maxBucketSize = cap)),
      "simhashExactDuplicates" -> (() => Dedup.simhashExactDuplicates(textSelf, "text",
        "doc_id", maxBucketSize = cap)),
      "embeddingNearDupPairsLSH" -> (() => embSelf),
      "embeddingCrossCorpusLSH(batch)" -> (() => emb(mega, Seq(1000))),
      "embeddingCrossCorpusLSH(corpus)" -> (() => emb(Seq(1000), mega)))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for ((op, run) <- guarded) {
      GuardMetrics.lastDrop = None
      val got = withLogLevel(pairs(run()))
      assert(got === Set((900L, 901L)), s"$op: mega-bucket must be dropped, pair kept")
      def reported = GuardMetrics.lastDrop.exists { case (o, nb, nr) =>
        o == op && nb > 0 && nr >= nb * mega.size }
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (!reported && System.nanoTime() < deadline) Thread.sleep(50)
      assert(reported, s"$op: drop not reported under its op name: ${GuardMetrics.lastDrop}")
    }
    // hashNearDupPairs is the one unguarded banded join: every pair of
    // the mega-bucket comes back
    val hashes = (mega.map(i => (i.toLong, 0L)) ++ Seq((900L, -1L), (901L, -1L)))
      .toDF("id", "h")
    val all = pairs(Multimodal.hashNearDupPairs(hashes, "id", "h", 0))
    assert(all === (for (i <- mega; j <- mega if i < j) yield (i.toLong, j.toLong)).toSet +
      ((900L, 901L)))
  }

  test("banded candidates: a corpus with every row twice gives the same pairs (one band too)") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    val twice = docs.union(docs)
    val ops: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "simhashDuplicates" -> (d => Dedup.simhashDuplicates(d, "text", "doc_id", 3)),
      "minhashCandidates" -> (d => Dedup.minhashCandidates(d, "text", "doc_id")),
      "minhashCandidates, one band" -> (d =>
        Dedup.minhashCandidates(d, "text", "doc_id", numHashes = 4, bands = 1)))
    for ((op, run) <- ops) {
      val once = rows(run(docs))
      assert(once.nonEmpty, op)
      assert(rows(run(twice)) === once, op)
    }
  }

  test("every bands-taking operator rejects bands 0 and -4 before any Spark job") {
    val text = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val vecs = Seq((1L, Array(1f, 0f)), (2L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val ops: Seq[(String, Int => Any)] = Seq(
      "minhashCandidates" -> (b => Dedup.minhashCandidates(text, "text", "doc_id", bands = b)),
      "minhashDuplicates" -> (b =>
        Dedup.minhashDuplicates(text, "text", "doc_id", 0.5, bands = b)),
      "minhashCrossCorpus" -> (b =>
        Dedup.minhashCrossCorpus(text, text, "text", "doc_id", 0.5, bands = b)),
      "newAgainstCorpus" -> (b =>
        Dedup.newAgainstCorpus(text, text, "text", "doc_id", 0.5, bands = b)),
      "simhashDuplicates" -> (b =>
        Dedup.simhashDuplicates(text, "text", "doc_id", 0, bands = b)),
      "embeddingNearDupPairsLSH" -> (b => Dedup.embeddingNearDupPairsLSH(vecs,
        "embedding", "vec_id", 0.9, dim = 2, bands = b)),
      "embeddingCrossCorpusLSH" -> (b => Dedup.embeddingCrossCorpusLSH(vecs, vecs,
        "embedding", "vec_id", 0.9, dim = 2, bands = b)))
    for ((op, run) <- ops; bands <- Seq(0, -4)) {
      val jobs = sparkJobs {
        val e = intercept[IllegalArgumentException](run(bands))
        assert(e.getMessage.contains("bands must be > 0"), s"$op bands=$bands: $e")
      }
      assert(jobs === 0, s"$op bands=$bands started $jobs Spark job(s) before failing")
    }
  }

  test("bucket-skew guard bounds embedding-LSH candidates too") {
    val v = Array(0.6f, 0.8f, 0f, 0f)
    val mega = (0 until 80).map(i => (i.toLong, v))
    val other = Seq((900L, Array(0f, 0f, 0.6f, 0.8f)),
      (901L, Array(0f, 0f, 0.6f, 0.8f)))
    val df = (mega ++ other).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairsLSH(df, "embedding", "vec_id",
        threshold = 0.99, dim = 4, numPlanes = 16, bands = 4, maxBucketSize = 40)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((900L, 901L)),
      s"mega-bucket must be dropped, small bucket kept: $pairs")
  }

  test("embedding near-dup pairs by cosine threshold") {
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0.999f, 0.04f, 0f)),  // ~cos 0.999 with 1
      (3L, Array(0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "embedding", "vec_id", 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("LSH embedding near-dup recovers planted near-dup clusters") {
    // 60 random base vectors (d=32) + a jittered near-dup of each of the
    // first 10 => 10 planted pairs with cos ~0.999
    val rnd = new scala.util.Random(7)
    def unit(): Array[Float] =
      graft.functions.VectorFunctions.normalize(Array.fill(32)(rnd.nextFloat() * 2 - 1))
    val base = (0 until 60).map(i => (i.toLong, unit()))
    val dups = (0 until 10).map { i =>
      val v = base(i)._2.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f)
      (100L + i, graft.functions.VectorFunctions.normalize(v))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDupPairs(df, "embedding", "vec_id", 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingNearDupPairsLSH(df, "embedding", "vec_id", 0.99,
        dim = 32, numPlanes = 32, bands = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size === 10)
    assert(lsh.subsetOf(exact), "verification must keep precision exact")
    assert(lsh.size >= 9, s"recall too low: ${lsh.size}/10")
  }

  test("ngram contamination scores exact leaks 1.0 and fresh docs 0.0") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val test = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // leaked
      (101L, "totally novel words nowhere in training corpus at all ok"), // fresh
      (102L, "one two three four five six seven eight nine ten NEW")) // partial
      .toDF("doc_id", "text")
    val r = Dedup.ngramContamination(train, test, "text", "doc_id", n = 8)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r(100L) === 1.0)
    assert(r(101L) === 0.0)
    assert(r(102L) > 0.0 && r(102L) < 1.0)
  }

  test("benchmark leaks mirror contamination with sides swapped") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // leaked
      (2L, "totally novel words nowhere in any benchmark at all ok"), // clean
      (3L, "one two three four five six seven eight nine ten extra")) // partial
      .toDF("doc_id", "text")
    val test = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val r = Dedup.benchmarkLeaks(train, test, "text", "doc_id", n = 8)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r(1L)._3 === 1.0)
    assert(r(2L)._3 === 0.0 && r(2L)._2 === 0L)
    assert(r(3L)._3 > 0.0 && r(3L)._3 < 1.0)
    // semantics == ngramContamination with the corpora swapped (only the
    // physical plan differs: broadcast probe vs shuffled distinct)
    val swapped = Dedup.ngramContamination(test, train, "text", "doc_id", n = 8)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    r.foreach { case (id, (nGrams, _, frac)) =>
      assert(swapped(id) === ((nGrams, frac)), s"doc $id")
    }
  }

  test("connected components group transitive near-dup chains") {
    // two chains (1-2-3, 10-11) and an isolated pair graph vertex set
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comp(1L) === 1L && comp(2L) === 1L && comp(3L) === 1L)
    assert(comp(10L) === 10L && comp(11L) === 10L)
    assert(comp.size === 5, "only vertices appearing in pairs get labels")
  }

  test("components converge in O(log n) rounds on a planted 64-chain") {
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.connectedComponentsWithStats(chain)
    assert(rounds <= 10, s"large/small-star should need ~log2(64) rounds, took $rounds")
    val comp = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(comp.length === 64 && comp.forall(_._2 === 0L))
  }

  test("components throw (never return partial labels) when rounds run out") {
    val chain = (0L until 32L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    assertThrows[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIterations = 1)
    }
  }

  test("survivors keep the best-scoring doc per cluster and all non-members") {
    val docs = Seq(
      (1L, "dup one", 0.5), (2L, "dup one b", 0.9), (3L, "dup one c", 0.9),
      (10L, "dup two", 0.7), (11L, "dup two b", 0.1),
      (42L, "unique", 0.0)).toDF("doc_id", "text", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = Dedup.survivors(docs, pairs, "doc_id", col("quality"))
      .select("doc_id").as[Long].collect().toSet
    // cluster {1,2,3}: 2 and 3 tie at 0.9 → smallest id (2) wins;
    // cluster {10,11}: 10 wins; 42 untouched
    assert(kept === Set(2L, 10L, 42L))
  }

  test("duplicatedSpans counts cross-document shared n-grams per doc") {
    val corpus = Seq(
      // A and B share exactly one 8-gram: "a b c d e f g h"
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h x y"),
      // C/D: short docs (< 8 tokens) — whole stream is the single gram;
      // identical streams ⇒ fully shared
      (3L, "z z z z"),
      (4L, "z z z z"),
      // E: unique content, zero overlap
      (5L, "p q r s t u v w x0 y0 z0")
    ).toDF("doc_id", "text")
    val r = Dedup.duplicatedSpans(corpus, "text", "doc_id", n = 8)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    // docs 1, 2: 3 distinct grams each, 1 shared
    assert(r(1L) === ((3L, 1L, 0.3333)))
    assert(r(2L) === ((3L, 1L, 0.3333)))
    // docs 3, 4: single whole-text gram, shared with each other
    assert(r(3L) === ((1L, 1L, 1.0)))
    assert(r(4L) === ((1L, 1L, 1.0)))
    // doc 5: 4 grams, none shared
    assert(r(5L) === ((4L, 0L, 0.0)))
  }

  test("duplicatedSpans counts a gram repeated WITHIN one doc only once") {
    // "a b a b a b a b a b" at n=2: distinct grams {a b, b a}; doc 2
    // shares "a b" only ⇒ doc 1 has 1 of its 2 distinct grams shared.
    val corpus = Seq(
      (1L, "a b a b a b a b a b"),
      (2L, "x a b")).toDF("doc_id", "text")
    val r = Dedup.duplicatedSpans(corpus, "text", "doc_id", n = 2)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r(1L) === ((2L, 1L, 0.5)))
    assert(r(2L) === ((2L, 1L, 0.5)))
  }

  test("BagCos.ge decides near-threshold comparisons exactly (BigInteger path)") {
    import graft.functions.BagCos
    // dot² lands one off na2·nb2 at magnitudes where doubles cannot
    // represent the difference — the 1e-9 tolerance must route these to
    // the BigInteger fallback, never to a rounded double sign
    val dot = 3037000499L                 // dot² = 9223372030926249001
    val sq = dot * dot
    assert(BagCos.ge(dot, sq, 1L, 1L, 1L), "equality is ≥")
    assert(!BagCos.ge(dot, sq + 1L, 1L, 1L, 1L), "one over must fail")
    assert(BagCos.ge(dot, sq - 1L, 1L, 1L, 1L), "one under must pass")
    // far-from-threshold stays on the double fast path and agrees
    assert(BagCos.ge(100L, 99L, 99L, 900000L, 1000000L))
    assert(!BagCos.ge(10L, 1000L, 1000L, 900000L, 1000000L))
  }

  test("DenseVec.geSigned rejects negative dots the magnitude test would pass") {
    import graft.functions.DenseVec
    // |cos| = 1 but cos = -1: the unsigned magnitude test says ≥, the
    // sign guard must say no (bag kernels never see this — tf ≥ 0)
    assert(!DenseVec.geSigned(-10000L, 10000L, 10000L, 1L, 2L))
    assert(DenseVec.geSigned(10000L, 10000L, 10000L, 1L, 2L))
    assert(!DenseVec.geSigned(0L, 0L, 0L, 1L, 2L), "zero vectors never match")
  }

  test("semanticDedup ≡ within-cell brute force on random vectors") {
    val rnd = new scala.util.Random(11)
    def unit(): Array[Float] =
      graft.functions.VectorFunctions.normalize(Array.fill(16)(rnd.nextFloat() * 2 - 1))
    val base = (0 until 80).map(i => (i.toLong, unit()))
    // planted near-dups of the first 12 (higher ids ⇒ they get dropped)
    val dups = (0 until 12).map { i =>
      val v = base(i)._2.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f)
      (200L + i, graft.functions.VectorFunctions.normalize(v))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val (p, q) = (19L, 20L) // cos ≥ 0.95
    val got = Dedup.semanticDedup(df, "embedding", "vec_id",
        k = 3, iterations = 2, thresholdP = p, thresholdQ = q)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap

    // brute force against the same integer contract: e7 scaling, cells
    // from the library fit, signed exact BigInt threshold
    val model = graft.ops.KMeans.fit(df, "embedding", "vec_id", 3, 2)
    val all = (base ++ dups).map { case (id, v) =>
      (id, v.map(x => math.round(x.toDouble * 1e7)))
    }
    val cellOf = graft.ops.KMeans.assign(df, "embedding", "vec_id", model)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dot(a: Array[Long], b: Array[Long]): BigInt =
      a.zip(b).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
    val expected = all.map { case (id, e) =>
      val dup = all.exists { case (id2, e2) =>
        id2 < id && cellOf(id2) == cellOf(id) && {
          val d = dot(e, e2)
          d > 0 && q * q * d * d >= p * p * dot(e, e) * dot(e2, e2)
        }
      }
      id -> ((cellOf(id), !dup))
    }.toMap
    assert(got === expected)
    assert(got.count(!_._2._2) >= 10, "planted dups must be dropped")
  }

  test("removeDuplicateParagraphs drops cross-doc boilerplate, keeps same-doc repeats") {
    val docs = Seq(
      (1L, "keep one\nBOILER\nkeep two"),
      (2L, "other text\nBOILER"),
      (3L, "solo\nsolo"),            // same-doc repeat: NOT boilerplate
      (4L, "BOILER\nBOILER\nmine")   // cross-doc dup: BOTH copies go
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateParagraphs(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === (("keep one\nkeep two", 2L, 1L)))
    assert(got(2L) === (("other text", 1L, 1L)))
    assert(got(3L) === (("solo\nsolo", 2L, 0L)))
    assert(got(4L) === (("mine", 1L, 2L)))
  }

  test("containmentPairs finds directed subset relations, not Jaccard") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta"),
      (4L, "unrelated words entirely")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "text", "doc_id", 9, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // 1 ⊂ 2 (5/5), 3 ⊂ 1 (2/2), 3 ⊂ 2 (2/2); the reverses are below 0.9
    assert(got.keySet === Set((1L, 2L), (3L, 1L), (3L, 2L)))
    assert(got.values.forall(_ == 1000000L))
    // symmetric Jaccard would MISS 3⊂2: J = 2/10 = 0.2
  }

  test("containmentPairs ≡ brute force at a loose threshold") {
    val rnd = new scala.util.Random(47)
    val vocab = (0 until 12).map(i => s"w$i")
    val docs = (0 until 40).map { i =>
      val n = 3 + rnd.nextInt(6)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val got = Dedup.containmentPairs(docs.toDF("doc_id", "text"),
        "text", "doc_id", 3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sets = docs.map { case (id, s) => id -> s.split(" ").toSet }.toMap
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a != b
      inter = (sa & sb).size
      if inter * 4 >= 3 * sa.size
    } yield (a, b, inter.toLong * 1000000L / sa.size)).toSet
    assert(got === want)
  }

  test("containmentPairs dense tier ≡ prefix tier (path-forced, both corpora)") {
    val rnd = new scala.util.Random(53)
    // degenerate vocab (dense tier's home turf) AND a wider one — the
    // two PATHS must agree bit-for-bit on both
    for (v <- Seq(8, 200)) {
      val vocab = (0 until v).map(i => s"w$i")
      val docs = (0 until 60).map { i =>
        val n = 4 + rnd.nextInt(8)
        (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      def run(denseMaxVocab: Long) = Dedup.containmentPairs(
          docs, "text", "doc_id", 3, 4, denseMaxVocab, 100000L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(run(denseMaxVocab = 0L) === run(denseMaxVocab = 100000L),
        s"tiers diverged at vocab=$v")
    }
  }

  test("all-pairs tiers: dense ≡ prefix ≡ brute force on repeated, null and string ids, null and empty text, empty input, the 64/65-term and doc bounds") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val rnd = new scala.util.Random(61)
    def words(v: Int) = (0 until v).map(i => s"w$i")
    def text(vocab: Seq[String]) =
      Seq.fill(2 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    def frame(idType: org.apache.spark.sql.types.DataType, rows: Seq[(Any, String)]) =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map { case (i, s) => org.apache.spark.sql.Row(i, s) }: _*),
        StructType(Seq(StructField("doc_id", idType), StructField("text", StringType))))
    // string ids: a repeated id (its bags merge, null text included), a
    // null id (never pairs), null text (no bag), "" and a double space
    // (the empty token), upper case (lowercased)
    val small = words(6)
    val mixed = (0 until 30).map(i => (f"d$i%02d": Any, text(small))) ++ Seq(
      ("d03", text(small)), ("d07", "W1 w2 w2"), ("d03", null),
      ("d40", null), ("d41", ""), ("d42", ""), ("d43", "w1  w2"),
      (null, "w1 w2 w3"), ("d44", small.mkString(" ")))
    // 64 and 65 distinct terms (a document holds every term, so each
    // other document is contained in it; two planted near-copies pass
    // the cosine threshold), long ids, 43 rows
    def wide(v: Int) = (0 until 40).map(i => (i.toLong: Any, text(words(v)))) ++ Seq(
      (40L, words(v).mkString(" ")), (41L, "w0 w1"), (42L, "w0 w1 w2"))
    val raw = Map("mixed" -> mixed, "empty" -> Nil, "vocab 64" -> wide(64), "vocab 65" -> wide(65))
    val corpora = Seq("mixed", "empty", "vocab 64", "vocab 65").map { name =>
      name -> frame(if (name.startsWith("vocab")) LongType else StringType, raw(name))
    }

    // brute force over each id's merged bag: containment counts a term
    // once per row holding it (per-row distinct sets, merged by id);
    // cosine sums the term frequencies of all the id's rows
    def bags(rows: Seq[(Any, String)], distinct: Boolean): Map[Any, Map[String, Long]] =
      rows.filter(r => r._1 != null && r._2 != null).groupBy(_._1).map { case (id, rs) =>
        id -> rs.flatMap { r =>
          val t = r._2.toLowerCase.split(" ", -1).toSeq
          if (distinct) t.distinct else t
        }.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
      }
    def lt(a: Any, b: Any) = (a, b) match {
      case (x: Long, y: Long) => x < y
      case (x: String, y: String) => x < y
      case _ => fail(s"unexpected ids $a, $b")
    }
    def containment(rows: Seq[(Any, String)]) = {
      val b = bags(rows, distinct = true)
      for {
        (a, ma) <- b.toSeq; (c, mc) <- b.toSeq if a != c
        n = ma.values.sum
        inter = ma.map { case (w, k) => math.min(k, mc.getOrElse(w, 0L)) }.sum
        if inter * 4 >= 3 * n
      } yield Seq[Any](a, c, inter * 1000000L / n)
    }
    def cosine(rows: Seq[(Any, String)], t: Double) = {
      val b = bags(rows, distinct = false)
      val p = BigInt(math.round(t * 1e6)); val q = BigInt(1000000)
      def n2(m: Map[String, Long]) = m.values.map(v => v * v).sum
      for {
        (a, ma) <- b.toSeq; (c, mc) <- b.toSeq if lt(a, c)
        dot = ma.map { case (w, k) => k * mc.getOrElse(w, 0L) }.sum
        if q * q * dot * dot >= p * p * n2(ma) * n2(mc)
      } yield Seq[Any](a, c, dot, n2(ma), n2(mc))
    }

    def rowsOf(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(_.toSeq).toSeq.groupBy(identity).map { case (r, g) => r -> g.size }
    def multiset(rows: Seq[Seq[Any]]) = rows.groupBy(identity).map { case (r, g) => r -> g.size }
    def dense(out: org.apache.spark.sql.DataFrame) =
      out.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin")
    for ((name, d) <- corpora) {
      val ops: Seq[(String, (Long, Long) => org.apache.spark.sql.DataFrame, Seq[Seq[Any]])] = Seq(
        ("containment", (v, n) => Dedup.containmentPairs(d, "text", "doc_id", 3, 4, v, n),
          containment(raw(name))),
        ("cosine", (v, n) => Dedup.cosineCountPairs(d, "text", "doc_id", 0.5, v, n),
          cosine(raw(name), 0.5)))
      for ((op, run, brute) <- ops) {
        val want = multiset(brute)
        val prefix = withLogLevel(run(0L, 0L))
        val forced = withLogLevel(run(100000L, 100000L))
        assert(!dense(prefix), s"$name $op: the prefix tier was not taken")
        if (name != "empty") assert(dense(forced), s"$name $op: the dense tier was not taken")
        assert(forced.schema.map(f => f.name -> f.dataType) ===
          prefix.schema.map(f => f.name -> f.dataType), s"$name $op: schemas differ")
        assert(rowsOf(prefix) === want, s"$name $op: prefix tier ≠ brute force")
        assert(rowsOf(forced) === want, s"$name $op: dense tier ≠ brute force")
        if (name != "empty") assert(want.nonEmpty, s"$name $op: degenerate corpus")
        if (name.startsWith("vocab")) {
          // the default bounds pick the tier by vocabulary size; the doc
          // bound counts docs with a token (43 here)
          val byVocab = withLogLevel(run(Dedup.DenseAllPairsMaxVocab, Dedup.DenseAllPairsMaxDocs))
          assert(dense(byVocab) === (name == "vocab 64"), s"$name $op: default bounds")
          assert(rowsOf(byVocab) === want, s"$name $op: default bounds ≠ brute force")
          for (maxDocs <- Seq(42L, 43L, 44L)) {
            val out = withLogLevel(run(100000L, maxDocs))
            assert(dense(out) === (maxDocs >= 43L), s"$name $op: doc bound $maxDocs")
            assert(rowsOf(out) === want, s"$name $op: doc bound $maxDocs ≠ brute force")
          }
        }
      }
    }
  }

  test("all-pairs dense tier: the doc bound holds over the docs of all tasks, not per task") {
    // 80 docs in 8 partitions of ~10: every task is under a bound of 40,
    // their sum is not. A repeated id (doc 3) sits in two of them and
    // counts once in each, as two input rows did in the bound: 81
    val rnd = new scala.util.Random(71)
    val words = (0 until 6).map(i => s"w$i")
    val rows = (0 until 80).map(i => (i.toLong, Seq.fill(3 + rnd.nextInt(6))(words(rnd.nextInt(6))).mkString(" "))) :+
      (3L, "w0 w1 w2 w3")
    val d = withLogLevel(spark.createDataFrame(spark.sparkContext.parallelize(rows, 8)).toDF("doc_id", "text"))
    def dense(out: org.apache.spark.sql.DataFrame) =
      out.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin")
    def rowsOf(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(_.toSeq).toSeq.groupBy(identity).map { case (r, g) => r -> g.size }
    val ops = Seq[(String, (Long, Long) => org.apache.spark.sql.DataFrame)](
      "containment" -> ((v, n) => Dedup.containmentPairs(d, "text", "doc_id", 3, 4, v, n)),
      "cosine" -> ((v, n) => Dedup.cosineCountPairs(d, "text", "doc_id", 0.8, v, n)))
    for ((op, run) <- ops) {
      val want = rowsOf(withLogLevel(run(0L, 0L)))
      assert(want.nonEmpty, s"$op: degenerate corpus")
      for (maxDocs <- Seq(40L, 80L, 81L, 100L)) {
        val out = withLogLevel(run(100000L, maxDocs))
        assert(dense(out) === (maxDocs >= 81L), s"$op: doc bound $maxDocs")
        assert(rowsOf(out) === want, s"$op: doc bound $maxDocs ≠ prefix tier")
      }
    }
  }

  test("all-pairs dense tier: repeated ids merge as Spark groups them (binary by content, -0.0 = 0.0, NaN = NaN)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, StringType, StructField, StructType}
    val texts = Seq("w1 w2 w3", "w1 w2", "w2 w3 w3", "w1 w3", "w1 w2 w3 w3", "w3 w1")
    val corpora = Seq[(DataType, Seq[Any])](
      BinaryType -> Seq(Array[Byte](1), Array[Byte](2), Array[Byte](1), Array[Byte](3), Array[Byte](2), Array[Byte](4)),
      DoubleType -> Seq(0.0, -0.0, Double.NaN, 1.0, Double.NaN, 2.0))
    // ids compared as values: binary by content, a zero or NaN as one id
    def id(x: Any): Any = x match {
      case b: Array[Byte] => b.toSeq
      case d: Double if d.isNaN => "NaN"
      case d: Double if d == 0.0 => 0.0
      case v => v
    }
    def rowsOf(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(_.toSeq.map(id)).toSeq.groupBy(identity).map { case (r, g) => r -> g.size }
    for ((idType, ids) <- corpora) {
      val d = withLogLevel(spark.createDataFrame(
        java.util.Arrays.asList(ids.zip(texts).map { case (i, t) => Row(i, t) }: _*),
        StructType(Seq(StructField("doc_id", idType), StructField("text", StringType)))).repartition(3))
      val ops = Seq[(String, (Long, Long) => org.apache.spark.sql.DataFrame)](
        "containment" -> ((v, n) => Dedup.containmentPairs(d, "text", "doc_id", 1, 2, v, n)),
        "cosine" -> ((v, n) => Dedup.cosineCountPairs(d, "text", "doc_id", 0.5, v, n)))
      for ((op, run) <- ops) {
        val prefix = rowsOf(withLogLevel(run(0L, 0L)))
        assert(prefix.nonEmpty, s"$idType $op: degenerate corpus")
        assert(rowsOf(withLogLevel(run(100000L, 100000L))) === prefix, s"$idType $op: dense tier ≠ prefix tier")
      }
    }
  }

  test("all-pairs dense tier: a warm call of either operator runs at most 8 Spark jobs") {
    // the benchmark's shape: a 30-word corpus in one parquet file, the
    // result written to a noop sink
    val rnd = new scala.util.Random(67)
    val vocab = (0 until 30).map(i => s"w$i")
    val path = java.nio.file.Files.createTempDirectory("dedup-jobs").resolve("docs.parquet").toString
    withLogLevel((0 until 400).map { i =>
      (i.toLong, Seq.fill(10 + rnd.nextInt(90))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text").coalesce(1).write.parquet(path))
    val calls = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "containmentPairs" -> (d => Dedup.containmentPairs(d, "text", "doc_id", 19, 20)),
      "cosineCountPairs" -> (d => Dedup.cosineCountPairs(d, "text", "doc_id", 0.9)))
    for ((name, call) <- calls) {
      def go(): Unit =
        call(spark.read.parquet(path)).write.format("noop").mode("overwrite").save()
      withLogLevel(go()) // warm
      val jobs = sparkJobs(go())
      assert(jobs <= 8, s"$name dense tier ran $jobs Spark jobs")
    }
  }

  test("semanticDedup is salt-invariant (each pair meets exactly once)") {
    val rnd = new scala.util.Random(23)
    def unit(): Array[Float] =
      graft.functions.VectorFunctions.normalize(Array.fill(8)(rnd.nextFloat() * 2 - 1))
    val df = (0 until 50).map(i => (i.toLong, unit())).toDF("vec_id", "embedding")
    def run(salts: Int) = Dedup.semanticDedup(df, "embedding", "vec_id",
        k = 2, iterations = 1, thresholdP = 1, thresholdQ = 2,
        saltOverride = salts)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(run(1) === run(7))
  }

  test("newTextsBloom equals the plain anti-join at any fpp (no false negatives)") {
    val corpus = ((0 until 40).map(i => (i.toLong, s"corpus document number $i"))
      :+ (98L, "shared text one") :+ (99L, "shared text two"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, "shared text one"),        // exact dup of corpus
      (101L, "shared text two"),        // exact dup of corpus
      (102L, "a genuinely new document"),
      (103L, "another brand new document"),
      (104L, "corpus document number 7") // dup of a generated corpus row
    ).toDF("doc_id", "text").repartition(5)
    val expected = batch.join(corpus.select($"text"), Seq("text"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(expected === Set(102L, 103L))
    // tiny fpp (clean prune) and absurd fpp=0.5 (FPs flood the verify
    // join) must both return exactly the anti-join result
    for (fpp <- Seq(0.01, 0.5)) {
      val got = graft.ops.Dedup.newTextsBloom(batch, corpus, "text", "doc_id",
        fpp = fpp).select("doc_id").as[Long].collect().toSet
      assert(got === expected, s"fpp=$fpp")
    }
  }
}

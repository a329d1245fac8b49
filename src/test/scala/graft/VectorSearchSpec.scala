package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.ops.{VectorIndex, VectorSearch}

class VectorSearchSpec extends SparkSuite with PackedIndexCases {
  import spark.implicits._

  private lazy val emb = withLogLevel(
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
  private lazy val q0: Array[Float] =
    emb.filter($"vec_id" === 0).select("embedding").head().getSeq[Float](0).toArray

  test("topK returns k rows sorted desc, self-match first") {
    val r = VectorSearch.topK(emb, "embedding", q0, 5, "vec_id").collect()
    assert(r.length === 5)
    assert(r.head.getAs[Long]("vec_id") === 0L)
    val sims = r.map(_.getAs[Float]("similarity"))
    assert(math.abs(sims.head - 1f) < 1e-5)
    assert(sims.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("VectorIndex topK agrees with DataFrame topK exactly") {
    val df = VectorSearch.topK(emb, "embedding", q0, 10, "vec_id")
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Float]("similarity")))
    val idx = VectorIndex.build[Long](emb, "vec_id", "embedding", q0.length, 2)
    val viaIndex = idx.topK(q0, 10)
    assert(viaIndex.map(_._1).toSeq === df.map(_._1).toSeq)
    assert(viaIndex.zip(df).forall { case ((_, a), (_, b)) => a == b },
      "scores must be bit-identical (same float32 kernel)")
  }

  test("VectorIndex topK ties break by id ascending on BOTH paths, independent of layout (r12)") {
    tieOrderCase(F32)
  }

  test("chunked build crosses the 4096-row first-chunk boundary losslessly (r13)") {
    chunkBoundaryCase(F32)
  }

  /** One partition per size, ids in order, Gaussian vectors (with
    * metadata and content, so [[VectorIndex.topKRows]] can run): the
    * build keeps upstream partitions, so each size is one block, a size
    * above 4096 split at the first-chunk boundary. */
  private def blockShaped(sizes: Seq[Int], d: Int): DataFrame = {
    val starts = sizes.scanLeft(0)(_ + _)
    withLogLevel(spark.sparkContext.parallelize(sizes.indices, sizes.length).flatMap { p =>
      val rnd = new scala.util.Random(91 + p)
      (starts(p) until starts(p + 1)).map { id =>
        (id.toLong, Array.fill(d)(rnd.nextGaussian().toFloat), Map("m" -> s"${id % 7}"), s"doc $id")
      }
    }.toDF("vec_id", "embedding", "metadata", "content"))
  }

  private def withTiers(df: DataFrame, d: Int)(
      check: VectorIndex[Long] => Unit): Unit =
    for (distributed <- Seq(false, true)) {
      val idx = VectorIndex.buildWithPayload[Long](df, "vec_id", "embedding", "metadata",
        "content", d).persist().materialize(forceDistributed = distributed)
      try {
        assert(idx.isLocal === !distributed)
        withClue(s"distributed = $distributed: ")(check(idx))
      } finally idx.unpersist(blocking = true)
    }

  private def bits(hits: Seq[(Long, Float)]): Seq[(Long, Int)] =
    hits.map { case (id, s) => (id, java.lang.Float.floatToRawIntBits(s)) }

  private def referenceBits(df: DataFrame, q: Array[Float], k: Int) =
    bits(VectorSearch.topK(df, "embedding", q, k, "vec_id").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Float]("similarity"))).toSeq)

  test("4-row scan: blocks of 1, 2, 3, 5 and 4097 rows score bit-equal to VectorSearch.topK, filtered too") {
    val d = 37
    val sizes = Seq(1, 2, 3, 5, 4097)
    val df = blockShaped(sizes, d)
    val n = sizes.sum
    val q = { val rnd = new scala.util.Random(5); Array.fill(d)(rnd.nextGaussian().toFloat) }
    // the row test drops ids ≡ 3 (mod 7): survivors leave 1, 2 and 3
    // rows in some block's last 4-row group
    val keep: Option[(VectorIndex.Block[Long], Int) => Boolean] = Some((b, r) => b.ids(r) % 7 != 3)
    val kept = df.filter($"vec_id" % 7 =!= 3)
    withTiers(df, d) { idx =>
      val blocks = idx.blocks.map(_.ids.toSeq).collect().toSeq
      assert(blocks.map(_.length) === Seq(1, 2, 3, 5, 4096, 1), "block sizes")
      assert(Set(1, 2, 3).subsetOf(blocks.map(_.count(_ % 7 != 3) % 4).toSet), "filtered tails")
      for (k <- Seq(1, 10, n)) withClue(s"k = $k: ") {
        assert(bits(idx.topK(q, k).toSeq) === referenceBits(df, q, k))
        assert(bits(idx.topKRows(q, k, keep).toSeq.map(h => (h.id, h.similarity))) ===
          referenceBits(kept, q, k))
      }
    }
  }

  test("Block.dot is bit-equal to the score the 4-row scan offers, every row of a 4n+3 block") {
    // a negative filter compares dot with its threshold while the scan
    // ranks by its own score: they must never differ on a boundary score
    val d = 131
    val df = blockShaped(Seq(23), d)
    val q = { val rnd = new scala.util.Random(8); Array.fill(d)(rnd.nextGaussian().toFloat) }
    withTiers(df, d) { idx =>
      val blocks = idx.blocks.collect()
      assert(blocks.map(_.ids.length).toSeq === Seq(23))
      val b = blocks.head
      val offered = idx.topK(q, 23).toMap
      for (r <- 0 until 23) withClue(s"row $r: ") {
        assert(java.lang.Float.floatToRawIntBits(b.dot(r, q)) ===
          java.lang.Float.floatToRawIntBits(offered(b.ids(r))))
      }
    }
  }

  test("VectorIndex topK rejects k <= 0 loudly (r12)") {
    val idx = VectorIndex.build[Long](emb, "vec_id", "embedding", q0.length, 2)
    val e = intercept[IllegalArgumentException](idx.topK(q0, 0))
    assert(e.getMessage.contains("k must be > 0"))
  }

  test("knnJoin / topKPerGroup reject a pre-existing similarity column (r12)") {
    val withSim = emb.withColumn("similarity", org.apache.spark.sql.functions.lit(0.0))
    intercept[IllegalArgumentException] {
      VectorSearch.knnJoin(withSim, "embedding", "vec_id",
        emb.limit(1), "embedding", "vec_id", 3)
    }
    intercept[IllegalArgumentException] {
      VectorSearch.topKPerGroup(withSim, "embedding", q0, 3, "vec_id", "vec_id")
    }
  }

  test("mmrRerank survives NaN relevance and zero-norm vectors (r12)") {
    import spark.implicits._
    val cands = withLogLevel(Seq(
      ("a", Array(1f, 0f), 0.9),
      ("b", Array(0f, 0f), 0.8),          // zero-norm: cosine NaN in the diversity term
      ("c", Array(Float.NaN, 1f), Double.NaN), // NaN relevance: filtered
      ("d", Array(0f, 1f), 0.7)
    ).toDF("id", "embedding", "rel"))
    val r = VectorSearch.mmrRerank(cands, "embedding", "id", "rel", k = 3)
      .select("id").as[String].collect().toSeq
    assert(r.length === 3 && !r.contains("c"), s"got $r")
    assert(r.head === "a")
  }

  test("index count and dim validation") {
    val idx = VectorIndex.build[Long](emb, "vec_id", "embedding", q0.length, 2)
    assert(idx.count() === emb.count())
    val e = intercept[IllegalArgumentException](idx.topK(Array(1f, 2f), 3))
    assert(e.getMessage.contains("same length"))
  }

  test("materialized small index scans driver-locally and agrees with the distributed scan") {
    val distributed = VectorIndex.build[Long](emb, "vec_id", "embedding", q0.length, 2)
    val localIdx: graft.ops.VectorIndex[Long] =
      VectorIndex.build[Long](emb, "vec_id", "embedding", q0.length, 2)
        .persist().materialize() // 500×64 floats ≪ LocalScanMaxBytes ⇒ local
    try {
      assert(localIdx.isLocal && !distributed.isLocal)
      assert(localIdx.count() === emb.count())
      val a = localIdx.topK(q0, 10).toSeq
      val b = distributed.topK(q0, 10).toSeq
      assert(a.map(_._1) === b.map(_._1))
      assert(a.map(_._2) === b.map(_._2), "same float32 kernel ⇒ bit-identical scores")
    } finally localIdx.unpersist()
  }

  test("payload-carrying index returns equal rows on the driver-local and distributed tier") {
    import graft.core.Filters.{And, ContentContains, MetaEq, Not}
    // 500 corpus rows plus five copies of q0 (ids 1000-1004), which tie
    // with row 0; null and empty metadata, null content
    val ties = (1000L to 1004L).map(id => (id, q0)).toDF("vec_id", "embedding")
    val docs = withLogLevel(emb.select("vec_id", "embedding").union(ties)
      .withColumn("metadata",
        when($"vec_id" % 3 === 0, typedLit(Map.empty[String, String]))
          .when($"vec_id" % 3 === 1, map(lit("k"), concat(lit("v"), $"vec_id".cast("string"))))
          .otherwise(lit(null).cast("map<string,string>")))
      .withColumn("content",
        when($"vec_id" % 4 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("doc "), $"vec_id".cast("string"))))
      .repartition(3))
    val source = docs.collect().map { r =>
      r.getLong(0) -> ((r.getSeq[Float](1), r.getMap[String, String](2), r.getString(3)))
    }.toMap
    def build() = VectorIndex.buildWithPayload[Long](docs, "vec_id", "embedding",
      "metadata", "content", q0.length, 3).persist()
    val local = build().materialize()
    val distributed = build().materialize(forceDistributed = true)
    def rows(idx: VectorIndex[Long], k: Int) = idx.topKRows(q0, k).toSeq.map { h =>
      (h.id, java.lang.Float.floatToRawIntBits(h.similarity), h.embedding.toSeq, h.metadata, h.content)
    }
    try {
      assert(local.isLocal && !distributed.isLocal)
      for (k <- Seq(1, 6, 10, source.size)) withClue(s"k = $k: ") {
        val a = rows(local, k)
        assert(a === rows(distributed, k))
        assert(a.map(r => (r._1, r._2)) ===
          local.topK(q0, k).toSeq.map { case (id, s) => (id, java.lang.Float.floatToRawIntBits(s)) })
        a.foreach { case (id, _, v, m, c) => assert((v, m, c) === source(id), s"row $id") }
      }
      assert(rows(local, 6).map(_._1) === Seq(0L, 1000L, 1001L, 1002L, 1003L, 1004L), "ties: id asc")
      // the same row test on both tiers: null-content rows (ids 0, 1000
      // and 1004 among the ties) and rows too close to a negative drop
      val neg = q0.map(-_)
      val keep: Option[(VectorIndex.Block[Long], Int) => Boolean] =
        Some((b, r) => b.content(r) != null && b.dot(r, neg) <= 0.2f)
      val passing = source.count { case (_, (v, _, c)) =>
        c != null && VectorFunctions.dot(v.toArray, neg) <= 0.2f }
      assert(passing > 10 && passing < source.size - 10)
      for (k <- Seq(1, 3, 10, source.size)) withClue(s"filtered, k = $k: ") {
        val a = filteredRows(local, k, keep)
        assert(a === filteredRows(distributed, k, keep))
        assert(a.length === math.min(k, passing))
        a.foreach { case (id, _, v, _, c) =>
          assert(c != null && VectorFunctions.dot(v.toArray, neg) <= 0.2f, s"row $id")
        }
      }
      assert(filteredRows(local, 3, keep).map(_._1) === Seq(1001L, 1002L, 1003L), "ties: id asc")
      // the row test a filtered Collection query ships to the tasks:
      // where + $contains + $not, then the negative filter
      val clause = And(Seq(MetaEq("k", ""), ContentContains("doc"), Not(ContentContains("7"))))
      val shipped = graft.core.Collection.keep[Long](Some(clause), neg, 0.2f)
      val clausePassing = source.filter { case (_, (v, m, c)) =>
        (if (m == null) "" else m.getOrElse("k", "")) == "" && c != null && c.contains("doc") &&
          !c.contains("7") && VectorFunctions.dot(v.toArray, neg) <= 0.2f
      }.keySet
      assert(clausePassing.size > 10 && clausePassing.size < passing)
      for (k <- Seq(1, 3, 10, source.size)) withClue(s"clause, k = $k: ") {
        val a = filteredRows(local, k, shipped)
        assert(a === filteredRows(distributed, k, shipped))
        assert(a.length === math.min(k, clausePassing.size))
        assert(a.map(_._1).forall(clausePassing))
      }
      assert(filteredRows(local, 2, shipped).map(_._1) === Seq(1001L, 1002L), "ties: id asc")
      val none: Option[(VectorIndex.Block[Long], Int) => Boolean] = Some((_, _) => false)
      assert(filteredRows(local, 5, none).isEmpty && filteredRows(distributed, 5, none).isEmpty)
      intercept[IllegalArgumentException](
        VectorIndex.build[Long](docs, "vec_id", "embedding", q0.length).topKRows(q0, 1))
    } finally { local.unpersist(); distributed.unpersist(blocking = true) }
  }

  private def filteredRows(idx: VectorIndex[Long], k: Int,
      keep: Option[(VectorIndex.Block[Long], Int) => Boolean]) =
    idx.topKRows(q0, k, keep).toSeq.map { h =>
      (h.id, java.lang.Float.floatToRawIntBits(h.similarity), h.embedding.toSeq, h.metadata, h.content)
    }

  test("the driver-local budget counts slab and payload bytes") {
    import graft.ops.PackedIndex.{LocalScanMaxBytes, fitsDriver}
    val maxFloats = LocalScanMaxBytes / 4
    assert(fitsDriver(maxFloats, 1, 4, 0L))
    assert(!fitsDriver(maxFloats + 1, 1, 4, 0L))
    assert(!fitsDriver(maxFloats, 1, 4, 1L))
    assert(fitsDriver(maxFloats - 1, 1, 4, 4L))
    assert(!fitsDriver(0L, 1536, 4, LocalScanMaxBytes + 1))
    assert(fitsDriver(25000L, 1536, 4, 25000L * 2 * 1875))
    // vectors alone fit; the payload tips the index over the budget
    assert(fitsDriver(120000L, 1536, 4, 0L) && !fitsDriver(120000L, 1536, 4, 120000L * 2 * 1875))
    val b = VectorIndex.Block[Long](Array(1L, 2L, 3L), new Array[Float](3),
      Array(Map("ab" -> "c", "d" -> null), null, Map.empty), Array("hello", null, ""))
    // chars "ab", "c", "d", "hello"; strings "ab", "c", "d", "hello", "";
    // two non-null maps
    assert(b.payloadBytes === 2 * (2 + 1 + 1 + 5) + VectorIndex.ObjectBytes * (5 + 2))
    assert(VectorIndex.Block[Long](Array(1L), new Array[Float](1)).payloadBytes === 0L)
  }

  test("thresholdSearch returns exactly rows above threshold") {
    val viaFilter = VectorSearch.thresholdSearch(emb, "embedding", q0, 0.3)
      .select("vec_id").as[Long].collect().toSet
    val viaScores = VectorSearch.scored(emb, "embedding", q0)
      .filter($"similarity" >= 0.3).select("vec_id").as[Long].collect().toSet
    assert(viaFilter === viaScores && viaFilter.contains(0L))
  }

  test("negativeFilterTopK drops rows similar to the negative vector") {
    val neg = emb.filter($"vec_id" === 1).select("embedding").head().getSeq[Float](0).toArray
    val res = VectorSearch.negativeFilterTopK(emb, "embedding", q0, neg, 0.1, 20, "vec_id")
    val negSims = res.withColumn("ns",
        VectorFunctions.dot_const_f32($"embedding", neg))
      .select("ns").as[Float].collect()
    assert(negSims.forall(_ <= 0.1f))
    assert(!res.select("vec_id").as[Long].collect().contains(1L))
  }

  test("knnJoin returns k matches per query, each list sorted") {
    val queries = emb.filter($"vec_id" < 3)
    val r = VectorSearch.knnJoin(emb, "embedding", "vec_id",
      queries, "embedding", "vec_id", 4).collect()
    assert(r.length === 12)
    val byQuery = r.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet === Set(0L, 1L, 2L))
    byQuery.foreach { case (qid, rows) =>
      // self is the top match
      assert(rows.map(_.getAs[Float]("similarity")).sliding(2).forall(p => p(0) >= p(1)))
    }
  }

  test("topKPerGroup keeps at most k per group") {
    val r = VectorSearch.topKPerGroup(emb, "embedding", q0, 2, "label", "vec_id")
    val counts = r.groupBy("label").count().select("count").as[Long].collect()
    assert(counts.forall(_ <= 2))
  }

  test("mmrRerank trades relevance for diversity; lambda=1 is pure relevance") {
    def unit(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    // a and b are near-duplicates close to the query; c is distinct
    val cands = Seq(
      ("a", unit(5), 0.99), ("b", unit(6), 0.98), ("c", unit(-40), 0.80))
      .toDF("id", "vec", "rel")
    val diverse = graft.ops.VectorSearch
      .mmrRerank(cands, "vec", "id", "rel", k = 2, lambda = 0.5)
      .collect().sortBy(_.getLong(2)).map(_.getString(0)).toSeq
    assert(diverse === Seq("a", "c"),
      "MMR must skip the near-duplicate b in favor of the diverse c")
    val pure = graft.ops.VectorSearch
      .mmrRerank(cands, "vec", "id", "rel", k = 2, lambda = 1.0)
      .collect().sortBy(_.getLong(2)).map(_.getString(0)).toSeq
    assert(pure === Seq("a", "b"), "lambda=1 must reduce to relevance order")
    // rank column is 1-based selection order; k clamps to candidate count
    val all = graft.ops.VectorSearch
      .mmrRerank(cands, "vec", "id", "rel", k = 10, lambda = 0.5)
    assert(all.count() === 3)
  }

  test("mmrRerankExactE7 matches a brute-force integer greedy replica") {
    // independent local replica of the contract: top-N candidates by
    // exact e7 dot (ties id asc), then greedy num·rel − (den−num)·maxdiv
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def half(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val qe = q0.map(v => half(v.toDouble * 1e7))
    def e7(v: Array[Float]): Array[Long] = v.map(x => half(x.toDouble * 1e7))
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val rel = rows.map { case (id, v) => (id, e7(v), dot(e7(v), qe)) }
    val cand = rel.sortBy { case (id, _, r) => (-r, id) }.take(12)
    var remaining = cand.toList
    val maxDiv = scala.collection.mutable.HashMap.empty[Long, Long]
    val expect = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    while (expect.length < 5) {
      val scoredCands = remaining.map { case (id, _, r) =>
        val s = if (expect.isEmpty) 10L * r else 7L * r - 3L * maxDiv(id)
        (id, s)
      }
      val bestId = scoredCands.minBy { case (id, s) => (-s, id) }._1
      val best = remaining.find(_._1 == bestId).get
      expect += ((best._1, best._3))
      remaining = remaining.filterNot(_._1 == bestId)
      remaining.foreach { case (id, v, _) =>
        val d = dot(v, best._2)
        if (!maxDiv.contains(id) || d > maxDiv(id)) maxDiv(id) = d
      }
    }
    val got = VectorSearch.mmrRerankExactE7(emb, "embedding", "vec_id", q0,
        numCandidates = 12, k = 5, lambdaNum = 7L, lambdaDen = 10L)
      .collect().sortBy(_.getLong(2))
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === expect.toSeq)
  }

  test("mmrRerankExactE7 skips exact-duplicate of the first pick") {
    // b is a BYTE-identical copy of a (maximal diversity penalty: its
    // max-div to the selected set is a·a = 1); the query must differ
    // from a, else rel ≡ div for every candidate and λ=1/2 cancels
    // them all into an exact tie. With this geometry c's lower div
    // (0.6) beats its lower rel (0.8) at λ=1/2.
    val q = Array(1f, 0f)
    val a = Array(0.96f, 0.28f); val c = Array(0.8f, -0.6f)
    val cands = Seq((1L, a), (2L, a), (3L, c)).toDF("vec_id", "embedding")
    val picked = VectorSearch.mmrRerankExactE7(cands, "embedding", "vec_id",
        q, numCandidates = 3, k = 2, lambdaNum = 1L, lambdaDen = 2L)
      .collect().sortBy(_.getLong(2)).map(_.getLong(0)).toSeq
    assert(picked === Seq(1L, 3L))
  }

  test("topK plan is TakeOrderedAndProject with no shuffle") {
    val plan = VectorSearch.topK(emb, "embedding", q0, 5, "vec_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan was:\n$plan")
    assert(!plan.contains("Exchange"), s"top-k must not shuffle; plan was:\n$plan")
  }

  test("knnJoinIVF with nProbe = cells ≡ exact integer-dot brute force") {
    val rnd = new scala.util.Random(31)
    val rows = (0 until 60).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 20 === 0) // 3 queries
    val got = VectorSearch.knnJoinIVF(corpus, "embedding", "vec_id",
        queries, "embedding", "vec_id", k = 4, cells = 3, iterations = 2,
        nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force on the same e7 integers
    val e7 = rows.map { case (id, v) =>
      id -> v.map(x => math.round(x.toDouble * 1e7))
    }
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map(p => p._1 * p._2).sum
    val want = Seq(0L, 20L, 40L).flatMap { qid =>
      val qe = e7.find(_._1 == qid).get._2
      e7.map { case (cid, ce) => (qid, cid, dot(qe, ce)) }
        .sortBy { case (_, cid, s) => (-s, cid) }.take(4)
    }.toSet
    assert(got === want, "probing every cell must equal brute force")
  }

  test("knnJoinIVF probes prune cells but keep exact in-cell ranking") {
    // three tight orthogonal clusters: nProbe=1 must find the
    // same-cluster neighbors exactly
    val rnd = new scala.util.Random(37)
    def near(axis: Int): Array[Float] =
      Array.tabulate(6)(i =>
        (if (i == axis) 1f else 0f) + (rnd.nextFloat() - 0.5f) * 0.02f)
    val rows = (0 until 30).map(i => (i.toLong, near(i % 3)))
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 3)
    val res = VectorSearch.knnJoinIVF(corpus, "embedding", "vec_id",
        queries, "embedding", "vec_id", k = 5, cells = 3, iterations = 2,
        nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(res.length === 15)
    // every returned neighbor is in the query's own angular cluster
    assert(res.forall { case (q, c) => c % 3 == q % 3 },
      s"cross-cluster neighbor leaked: ${res.mkString(",")}")
  }

  test("hardNegatives: top-k excluding self and positives ≡ brute force") {
    val rnd = new scala.util.Random(53)
    val rows = (0 until 50).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 20 === 0)
    val positives = queries.select($"vec_id".as("query_id"),
      ($"vec_id" + 2).as("pos_id"))
    val got = VectorSearch.hardNegatives(corpus, "embedding", "vec_id",
        queries, "embedding", "vec_id", positives,
        k = 4, maxPositives = 1, cells = 3, iterations = 2, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val e7 = rows.map { case (id, v) =>
      id -> v.map(x => math.round(x.toDouble * 1e7)) }
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map(p => p._1 * p._2).sum
    val want = Seq(0L, 20L, 40L).flatMap { qid =>
      val qe = e7.find(_._1 == qid).get._2
      e7.filter { case (cid, _) => cid != qid && cid != qid + 2 }
        .map { case (cid, ce) => (qid, cid, dot(qe, ce)) }
        .sortBy { case (_, cid, s) => (-s, cid) }.take(4)
    }.toSet
    assert(got === want)
  }

  test("knnJoinIVF plan: cell equi-join + partial bounded-heap, no window") {
    val plan = withLogLevel {
      VectorSearch.knnJoinIVF(emb, "embedding", "vec_id",
        emb.filter($"vec_id" < 3), "embedding", "vec_id",
        k = 3, cells = 2, iterations = 1, nProbe = 1)
        .queryExecution.executedPlan.toString
    }
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_topk_rows"),
      s"map-side heap must bound the exchange:\n$plan")
  }
}

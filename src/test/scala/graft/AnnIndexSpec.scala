package graft

import org.apache.spark.sql.functions._

import graft.core.{DB, Document}
import graft.embed.HashingEmbeddingFunc
import graft.ops.{AnnIndex, VectorSearch}

class AnnIndexSpec extends SparkSuite {
  import spark.implicits._

  private lazy val emb = withLogLevel(
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
  private lazy val q0: Array[Float] =
    emb.filter($"vec_id" === 0).select("embedding").head().getSeq[Float](0).toArray

  test("LshIndex probe equals exact top-k over the rows within maxHamming of the query") {
    val idx = AnnIndex.buildLsh(emb, "embedding", "vec_id", dim = q0.length,
      numPlanes = 12).materialize()
    try {
      val viaIndex = idx.topK(q0, 10, maxHamming = 3)
        .select("vec_id").as[Long].collect().toSeq
      // reference: the same seed-42 planes, each row signed on the driver
      val planes = VectorSearch.randomPlanes(12, q0.length, 42L)
      val qSig = VectorSearch.signatureOf(q0, planes)
      val near = emb.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
        .collect { case (id, v) if java.lang.Long.bitCount(
          VectorSearch.signatureOf(v.toArray, planes) ^ qSig) <= 3 => id }
      val reference = VectorSearch.topK(emb.filter($"vec_id".isInCollection(near)),
        "embedding", q0, 10, "vec_id").select("vec_id").as[Long].collect().toSeq
      assert(viaIndex === reference)
      assert(viaIndex.head === 0L) // self-match survives its own bucket
    } finally idx.unpersist()
  }

  test("LshIndex at maxHamming = numPlanes degenerates to exact top-k") {
    val idx = AnnIndex.buildLsh(emb, "embedding", "vec_id", dim = q0.length,
      numPlanes = 12).materialize()
    try {
      val approx = idx.topK(q0, 10, maxHamming = 12)
        .select("vec_id").as[Long].collect().toSeq
      val exact = VectorSearch.topK(emb, "embedding", q0, 10, "vec_id")
        .select("vec_id").as[Long].collect().toSeq
      assert(approx === exact)
    } finally idx.unpersist()
  }

  test("IvfState probe at nprobe = nlist equals exact top-k") {
    val idx = AnnIndex.buildIvf(emb, "embedding", "vec_id",
      nlist = 4, sampleSize = 500).materialize()
    try {
      val approx = idx.topK(q0, 10, nprobe = 4)
        .select("vec_id").as[Long].collect().toSeq
      val exact = VectorSearch.topK(emb, "embedding", q0, 10, "vec_id")
        .select("vec_id").as[Long].collect().toSeq
      assert(approx === exact)
    } finally idx.unpersist()
  }

  test("saved IVF layout reloads and probes with PARTITION PRUNING") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-layout").toString
    val built = AnnIndex.buildIvf(emb, "embedding", "vec_id",
      nlist = 4, sampleSize = 500)
    try {
      built.save(dir)
      val loaded = graft.ops.IvfState.load(spark, dir)
      // probe equality: exhaustive probe == exact top-k, through the disk layout
      val viaDisk = loaded.topK(q0, 10, nprobe = 4)
        .select("vec_id").as[Long].collect().toSeq
      val exact = VectorSearch.topK(emb, "embedding", q0, 10, "vec_id")
        .select("vec_id").as[Long].collect().toSeq
      assert(viaDisk === exact)
      // the cell filter must reach the scan as a partition filter (true
      // pruning: non-probed cells' files are never read)
      val plan = loaded.topK(q0, 10, nprobe = 1).queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("__cell"),
        s"expected partition-pruned scan:\n$plan")
      val pruned = loaded.topK(q0, 10, nprobe = 1)
        .select("vec_id").as[Long].collect()
      assert(pruned.nonEmpty && pruned.contains(0L), "self cell must be probed")
    } finally built.unpersist()
  }

  test("approx query falls back to exact when a tight probe underfills") {
    val ef = new HashingEmbeddingFunc(32)
    val db = DB.inMemory(spark, ef)
    val c = db.createCollection("underfill", Map.empty, ef)
    c.addDocuments((1 to 30).map(i =>
      Document.create(s"d$i", content = s"totally different text number $i")))
    c.buildLshIndex(numPlanes = 16)
    val qv = ef.embed("an utterly unrelated query about something else")
    // maxHamming = 0 probes only the query's own bucket, which will not
    // hold 10 corpus rows — the fallback must still fill k from the exact
    // scan instead of silently returning fewer.
    val r = c.queryEmbeddingApprox(qv, 10, maxHamming = 0)
    assert(r.length === 10, s"underfilled probe must fall back: got ${r.length}")
    assert(r.map(_.id) === c.queryEmbedding(qv, 10).map(_.id))
  }

  test("Collection ANN index: build, probe, invalidate on mutation") {
    val ef = new HashingEmbeddingFunc(32)
    val db = DB.inMemory(spark, ef)
    val c = db.createCollection("ann", Map.empty, ef)
    c.addDocuments((1 to 40).map(i =>
      Document.create(s"d$i", content = s"document number $i about topic ${i % 5}")))
    val qv = ef.embed("document number 7 about topic 2")

    assert(!c.hasAnnIndex)
    // no index yet → falls back to exact (Array fields ⇒ compare by id+score)
    val exact = c.queryEmbeddingApprox(qv, 5)
    assert(exact.map(r => (r.id, r.similarity)) ===
      c.queryEmbedding(qv, 5).map(r => (r.id, r.similarity)))

    c.buildLshIndex(numPlanes = 16)
    assert(c.hasAnnIndex)
    // exhaustive probe == exact
    val viaLsh = c.queryEmbeddingApprox(qv, 5, maxHamming = 16)
    assert(viaLsh.map(_.id) === exact.map(_.id))

    c.buildIvfIndex(nlist = 2, sampleSize = 100)
    // mutation drops the indexes
    c.addDocuments(Seq(Document.create("extra", content = "one more document")))
    assert(!c.hasAnnIndex)
    assert(c.queryEmbeddingApprox(qv, 5).map(_.id) === c.queryEmbedding(qv, 5).map(_.id))
  }
}

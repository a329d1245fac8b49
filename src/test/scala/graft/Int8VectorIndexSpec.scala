package graft

import org.apache.spark.sql.functions._

import graft.ops.{Int8VectorIndex, Quantize}

class Int8VectorIndexSpec extends SparkSuite with PackedIndexCases {
  import spark.implicits._

  private val d = 16

  private def corpus(n: Int) = withLogLevel {
    val dd = d // local copy: the task closure must not capture the spec
    spark.range(0, n.toLong, 1, 4).mapPartitions { it =>
      it.map { id =>
        val rnd = new java.util.Random(42L + id)
        (id, graft.functions.VectorFunctions.normalize(
          Array.fill(dd)(rnd.nextFloat() * 2f - 1f)))
      }
    }.toDF("id", "embedding")
  }

  private def qvec(seed: Long): Array[Float] = {
    val rnd = new java.util.Random(seed)
    graft.functions.VectorFunctions.normalize(
      Array.fill(d)(rnd.nextFloat() * 2f - 1f))
  }

  test("packed int8 topK is bit-identical to the DataFrame quantized tier, local and distributed") {
    val q = Quantize.quantize(corpus(500), "embedding")
    val query = qvec(7L)
    val expected = Quantize.quantizedTopK(q, query, 10, "id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // driver-local fast path (500·16 bytes ≪ LocalScanMaxBytes)
    val idxLocal = Int8VectorIndex
      .build[Long](q, "id", "qvec", "qscale", d)
      .persist().materialize()
    try {
      assert(idxLocal.isLocal)
      assert(idxLocal.topK(query, 10).toSeq === expected)
      assert(idxLocal.count() === 500L)
    } finally idxLocal.unpersist(blocking = true)
    // distributed per-partition-heap path: same kernel, same result
    val idxDist = Int8VectorIndex
      .build[Long](q, "id", "qvec", "qscale", d, numBlocks = 4)
      .persist().materialize(forceDistributed = true)
    try {
      assert(!idxDist.isLocal)
      assert(idxDist.topK(query, 10).toSeq === expected)
    } finally idxDist.unpersist(blocking = true)
  }

  test("score ties break by id ascending (the DataFrame tiers' contract)") {
    tieOrderCase(Int8)
  }

  test("chunked build crosses the 4096-row first-chunk boundary losslessly") {
    chunkBoundaryCase(Int8)
  }

  test("build and query validate inputs loudly") {
    val q = Quantize.quantize(corpus(10), "embedding")
    val idx = Int8VectorIndex.build[Long](q, "id", "qvec", "qscale", d)
      .persist().materialize()
    try {
      intercept[IllegalArgumentException] { idx.topK(qvec(1L), 0) }
      (intercept[IllegalArgumentException] {
        idx.topK(new Array[Float](d + 1), 5)
      }).getMessage.contains("same length")
    } finally idx.unpersist(blocking = true)
    // out-of-int8-range qvec values fail the build, not the scan
    val bad = withLogLevel(Seq((1L, Seq(300), 1.0))
      .toDF("id", "qvec", "qscale"))
    val e = intercept[org.apache.spark.SparkException] {
      Int8VectorIndex.build[Long](bad, "id", "qvec", "qscale", 1)
        .materialize()
    }
    assert(e.getMessage.contains("int8") ||
      Option(e.getCause).exists(_.getMessage.contains("int8")))
  }
}

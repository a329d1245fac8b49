package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/**
 * FLAT (exhaustive) float32 vector index — the float32 slab kind of the
 * one packed-scan engine ([[PackedIndex]]): driver-local under the
 * engine's 800 MB budget (200M floats), distributed above it.
 *
 * Why not the DataFrame columnar cache for the hot loop? Measured on
 * 100k×1536 float32 (local[32]): columnar-cache scan ≈ 92 ms/query,
 * parquet scan ≈ 575 ms/query, this packed-primitive layout ≈ 38 ms/query
 * — i.e. at parity with the reference's published 39.6 ms (8-thread
 * laptop, BASELINE.md). The win is data layout: one contiguous float[]
 * per block (SIMD-friendly, zero per-row decode), exactly what the
 * reference scans (contiguous sub-slices, query.go:192-196).
 */
final class VectorIndex[K: Ordering] private (
    slabs: RDD[VectorIndex.Block[K]],
    d: Int) extends PackedIndex[K, Array[Float], VectorIndex.Block[K]](slabs, d, 4) {

  protected def prepare(query: Array[Float]): Array[Float] = query

  /** Exhaustive top-k by dot product (== cosine for normalized vectors).
    * Ties break by id ascending — the DataFrame tiers' contract. The
    * engine widens each float32 score to double (exact, order-preserving);
    * narrowing it back here returns the kernel's float bit for bit. */
  def topK(query: Array[Float], k: Int): Array[(K, Float)] =
    scoreTopK(query, k).map { case (id, s) => (id, s.toFloat) }
}

object VectorIndex {

  /** One block = a packed row-major float32 slab + parallel id array. */
  case class Block[K](ids: Array[K], data: Array[Float]) extends Slab[K, Array[Float]] {
    private[ops] def scan(from: Int, until: Int, d: Int, q: Array[Float],
        heap: TopKHeap[K]): Unit = {
      val data = this.data
      val ids = this.ids
      var r = from
      while (r < until) {
        val off = r * d
        var s = 0.0f
        var i = 0
        while (i < d) { s += data(off + i) * q(i); i += 1 }
        heap.insert(ids(r), s)
        r += 1
      }
    }
  }

  /** Build from a DataFrame's (id, embedding) columns. Rows whose vector
    * is null or of another dimension fail the build (vectors must have
    * the same length — reference vector.go:16-18). */
  def build[K: ClassTag: Ordering](
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      numBlocks: Int = 0): VectorIndex[K] = {
    require(dim > 0, s"dim must be > 0, got $dim")
    val blocks = PackedIndex.buildSlabs[K, Block[K]](df, Seq(idCol, vecCol), numBlocks, 4 * dim)(
      ids => Block(ids, new Array[Float](ids.length * dim)),
      (b, n, row) => {
        val v = row.getSeq[Float](1)
        // diagnostic, not a bare NPE at v.length: the corpus schema
        // allows embedding-less rows (embed-on-write), and callers are
        // expected to filter them before indexing
        if (v == null) throw new IllegalArgumentException(
          s"cannot index a null vector (id=${row.get(0)}); " +
            "filter embedding IS NOT NULL before VectorIndex.build")
        if (v.length != dim) throw new IllegalArgumentException(
          s"vectors must have the same length: ${v.length} vs $dim")
        v.copyToArray(b.data, n * dim)
      },
      (b, n) => Block(b.ids.take(n), java.util.Arrays.copyOf(b.data, n * dim)))
    new VectorIndex[K](blocks, dim)
  }
}

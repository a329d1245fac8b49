package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/**
 * FLAT packed index over int8-QUANTIZED vectors — the byte slab kind of
 * the one packed-scan engine ([[PackedIndex]]), for the scan tier a
 * 100 TB deployment actually runs: symmetric per-vector int8
 * ([[Quantize]]) cuts slab memory and scan bandwidth 4× vs float32
 * (d=1536: 1.5 KB/row + one scale vs 6 KB), so the corpus that fits N
 * executors in float32 fits N/4 here, and the engine's one 800 MB
 * driver-local budget holds 800M int8 values. The integer dot kernel is
 * exact, so scores are bit-reproducible at any partitioning.
 *
 * Scoring contract: bit-identical to [[Quantize.quantizedTopK]] (the
 * DataFrame tier) by construction — the build CONSUMES that tier's
 * `qvec`/`qscale` columns (one quantization, two layouts), the query goes
 * through the same [[Quantize.quantizeQuery]], the dot is the same exact
 * integer sum, and the rescale is the same double product in the same
 * order. Pinned in Int8VectorIndexSpec.
 */
final class Int8VectorIndex[K: Ordering] private (
    slabs: RDD[Int8VectorIndex.Block[K]],
    d: Int) extends PackedIndex[K, (Array[Byte], Double), Int8VectorIndex.Block[K]](slabs, d, 1) {

  protected def prepare(query: Array[Float]): (Array[Byte], Double) = {
    val (qq, qs) = Quantize.quantizeQuery(query)
    (qq.map(_.toByte), qs) // |q| ≤ 127 by construction
  }

  /** Exhaustive top-k by quantized similarity (≈ dot/cosine of the
    * original floats): score = (Σ qaᵢ·qbᵢ) · scale_row · scale_query,
    * ties by id ascending — the [[Quantize.quantizedTopK]] contract. */
  def topK(query: Array[Float], k: Int): Array[(K, Double)] =
    scoreTopK(query, k, None)((_, _) => ()).map { case (id, s, _) => (id, s) }
}

object Int8VectorIndex {

  /** One block = a packed row-major int8 slab + parallel id and
    * per-vector scale arrays. */
  case class Block[K](ids: Array[K], scales: Array[Double], data: Array[Byte])
      extends Slab[K, (Array[Byte], Double)] {
    /** The int accumulator is exact: |Σ qaᵢ·qbᵢ| ≤ 127²·d < 2³¹ for every
      * supported d (build rejects d > 100000). */
    private[ops] def scan(rows: Array[Int], n: Int, d: Int, q: (Array[Byte], Double),
        heap: TopKHeap[K], slab: Int): Unit = {
      val data = this.data
      val ids = this.ids
      val scales = this.scales
      val (qb, qs) = q
      var j = 0
      while (j < n) {
        val r = rows(j)
        val off = r * d
        var dot = 0
        var i = 0
        while (i < d) { dot += data(off + i) * qb(i); i += 1 }
        // same double product, same order, as quantizedTopK's
        // (qdot.cast(double) * qscale) * qs — bit-equal scores
        heap.insert(ids(r), dot.toDouble * scales(r) * qs, slab, r)
        j += 1
      }
    }
  }

  /** Build from a PRE-QUANTIZED frame's (id, qvec, qscale) columns —
    * the output of [[Quantize.quantize]], so this layout and the
    * DataFrame tier share ONE quantization. Values outside int8 range
    * or a mismatched dimension fail the build loudly. */
  def build[K: ClassTag: Ordering](
      df: DataFrame,
      idCol: String,
      qvecCol: String,
      qscaleCol: String,
      dim: Int,
      numBlocks: Int = 0): Int8VectorIndex[K] = {
    require(dim > 0, s"dim must be > 0, got $dim")
    require(dim <= 100000,
      s"dim $dim exceeds the exact-int-accumulator bound (127²·d < 2³¹)")
    val blocks = PackedIndex.buildSlabs[K, Block[K]](
        df, Seq(idCol, qvecCol, qscaleCol), Seq("array<int>", "double"), numBlocks, dim)(
      ids => Block(ids, new Array[Double](ids.length), new Array[Byte](ids.length * dim)),
      (b, n, id, row) => {
        if (row.isNullAt(1)) throw new IllegalArgumentException(
          s"cannot index a null qvec (id=$id); " +
            "filter nulls before Int8VectorIndex.build")
        val v = row.getArray(1)
        if (v.numElements() != dim) throw new IllegalArgumentException(
          s"vectors must have the same length: ${v.numElements()} vs $dim")
        val off = n * dim
        var i = 0
        while (i < dim) {
          val q = v.getInt(i)
          if (q < -127 || q > 127) throw new IllegalArgumentException(
            s"qvec value $q outside int8 range (id=$id); " +
              "build from Quantize.quantize output")
          b.data(off + i) = q.toByte
          i += 1
        }
        b.scales(n) = row.getDouble(2)
      },
      (b, n) => Block(b.ids.take(n), b.scales.take(n), java.util.Arrays.copyOf(b.data, n * dim)))
    new Int8VectorIndex[K](blocks, dim)
  }
}

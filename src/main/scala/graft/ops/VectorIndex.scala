package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types.{MapType, StringType}

/**
 * FLAT (exhaustive) float32 vector index — the float32 slab kind of the
 * one packed-scan engine ([[PackedIndex]]): driver-local under the
 * engine's 800 MB budget (200M floats), distributed above it.
 *
 * The hot loop reads a packed layout, not the DataFrame columnar cache:
 * one contiguous float[] per block, row-major, with zero per-row decode —
 * what the reference scans (contiguous sub-slices, query.go:192-196).
 * The slab is scanned 4 rows per pass ([[VectorIndex.Block]]): a one-row
 * loop runs d dependent float adds per row, so add latency bounds it,
 * not memory; four rows give four independent add chains over the same
 * `q(i)`. Each row still sums in its own sequential order — no SIMD
 * reduction, no partial sums within a row — because that order is what
 * keeps a score bit-equal to `dot_const_f32` and the DataFrame tiers.
 */
final class VectorIndex[K: Ordering] private (
    slabs: RDD[VectorIndex.Block[K]],
    d: Int,
    /** the blocks carry each row's metadata and content */
    hasPayload: Boolean)
    extends PackedIndex[K, Array[Float], VectorIndex.Block[K]](slabs, d, 4) {

  protected def prepare(query: Array[Float]): Array[Float] = query

  /** Exhaustive top-k by dot product (== cosine for normalized vectors).
    * Ties break by id ascending — the DataFrame tiers' contract. The
    * engine widens each float32 score to double (exact, order-preserving);
    * narrowing it back here returns the kernel's float bit for bit. */
  def topK(query: Array[Float], k: Int): Array[(K, Float)] =
    scoreTopK(query, k, None)((_, _) => ()).map { case (id, s, _) => (id, s.toFloat) }

  /** [[topK]] with each winner's whole row, read from the slab in the
    * same pass: the embedding is a fresh copy (a caller never holds an
    * array that aliases the slab), metadata and content are the payload
    * the build decoded. With `keep`, only the rows it passes — tested on
    * (block, row) before the row is scored — compete, and fewer than k
    * can come back; the test runs on executors on the distributed tier,
    * so it must be serializable. */
  def topKRows(query: Array[Float], k: Int,
      keep: Option[(VectorIndex.Block[K], Int) => Boolean] = None): Array[VectorIndex.Hit[K]] = {
    require(hasPayload, "topKRows needs an index built by VectorIndex.buildWithPayload")
    val d = dim
    scoreTopK(query, k, keep) { (b, r) =>
      (java.util.Arrays.copyOfRange(b.data, r * d, r * d + d), b.metadata(r), b.content(r))
    }.map { case (id, s, (v, m, c)) => VectorIndex.Hit(id, s.toFloat, v, m, c) }
  }
}

object VectorIndex {

  /** Heap a payload object takes beyond its chars, for the driver-local
    * budget: a String's header and fields (24 bytes) plus its backing
    * array's header (16), and the same figure for each metadata map. */
  private[graft] val ObjectBytes = 40L

  /** One block = a packed row-major float32 slab + parallel id array and,
    * when built with a payload, parallel metadata and content arrays
    * (null otherwise). */
  case class Block[K](
      ids: Array[K],
      data: Array[Float],
      metadata: Array[Map[String, String]] = null,
      content: Array[String] = null) extends Slab[K, Array[Float]] {
    private[ops] def scan(rows: Array[Int], n: Int, d: Int, q: Array[Float],
        heap: TopKHeap[K], slab: Int): Unit = {
      var j = 0
      while (j + 4 <= n) {
        four(rows(j), rows(j + 1), rows(j + 2), rows(j + 3), d, q, heap, slab)
        j += 4
      }
      while (j < n) { val r = rows(j); heap.insert(ids(r), dot(r, q), slab, r); j += 1 }
    }

    /** Rows r0..r3 scored in one pass over `q`: four independent add
      * chains hide the float-add latency that bounds a one-row loop,
      * while each row keeps its own sequential sum, so every score is
      * bit-equal to [[dot]]. Offered in row order. */
    private def four(r0: Int, r1: Int, r2: Int, r3: Int, d: Int, q: Array[Float],
        heap: TopKHeap[K], slab: Int): Unit = {
      val data = this.data
      val o0 = r0 * d
      val o1 = r1 * d
      val o2 = r2 * d
      val o3 = r3 * d
      var s0 = 0.0f
      var s1 = 0.0f
      var s2 = 0.0f
      var s3 = 0.0f
      var i = 0
      while (i < d) {
        val qi = q(i)
        s0 += data(o0 + i) * qi
        s1 += data(o1 + i) * qi
        s2 += data(o2 + i) * qi
        s3 += data(o3 + i) * qi
        i += 1
      }
      heap.insert(ids(r0), s0, slab, r0)
      heap.insert(ids(r1), s1, slab, r1)
      heap.insert(ids(r2), s2, slab, r2)
      heap.insert(ids(r3), s3, slab, r3)
    }

    /** Row `r`'s dot product with `v`, which must have the slab's
      * dimension: one sequential float sum, the order each of
      * [[scan]]'s four chains keeps per row and the order of
      * `dot_const_f32`, so it is bit-equal to both. The scan scores its
      * 0-3 tail rows with it. */
    def dot(r: Int, v: Array[Float]): Float = {
      val d = v.length
      val off = r * d
      var s = 0.0f
      var i = 0
      while (i < d) { s += data(off + i) * v(i); i += 1 }
      s
    }

    /** An estimate of the heap the payload takes, not a measurement: 2
      * bytes per char of content and of metadata keys and values (the
      * UTF-16 width; compact Latin-1 strings take half), plus
      * [[VectorIndex.ObjectBytes]] per string and per metadata map. */
    private[graft] override def payloadBytes: Long = {
      var bytes = 0L
      def string(s: String): Unit = if (s != null) bytes += 2L * s.length + ObjectBytes
      if (content != null) content.foreach(string)
      if (metadata != null) metadata.foreach { m =>
        if (m != null) {
          bytes += ObjectBytes
          m.foreach { case (k, v) => string(k); string(v) }
        }
      }
      bytes
    }
  }

  /** One [[VectorIndex.topKRows]] result: a document and its similarity. */
  case class Hit[K](
      id: K,
      similarity: Float,
      embedding: Array[Float],
      metadata: Map[String, String],
      content: String)

  /** Build from a DataFrame's (id, embedding) columns. Rows whose vector
    * is null or of another dimension fail the build (vectors must have
    * the same length — reference vector.go:16-18). */
  def build[K: ClassTag: Ordering](
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      numBlocks: Int = 0): VectorIndex[K] =
    slabs[K](df, Seq(idCol, vecCol), dim, numBlocks)

  /** [[build]] that also keeps each row's `metadataCol`
    * (map<string, string>) and `contentCol` (string) beside the slab,
    * decoded in the same pass as the vectors, so [[VectorIndex.topKRows]]
    * answers with whole rows. */
  def buildWithPayload[K: ClassTag: Ordering](
      df: DataFrame,
      idCol: String,
      vecCol: String,
      metadataCol: String,
      contentCol: String,
      dim: Int,
      numBlocks: Int = 0): VectorIndex[K] =
    slabs[K](df, Seq(idCol, vecCol, metadataCol, contentCol), dim, numBlocks)

  /** Columns 0 and 1 are id and vector; columns 2 and 3, when present,
    * are the metadata and content payload. */
  private def slabs[K: ClassTag: Ordering](
      df: DataFrame, cols: Seq[String], dim: Int, numBlocks: Int): VectorIndex[K] = {
    require(dim > 0, s"dim must be > 0, got $dim")
    val payload = cols.length == 4
    val metadataType = MapType(StringType, StringType)
    val toMetadata = CatalystTypeConverters.createToScalaConverter(metadataType)
    val types = Seq("array<float>", "map<string,string>", "string").take(cols.length - 1)
    val blocks = PackedIndex.buildSlabs[K, Block[K]](df, cols, types, numBlocks, 4 * dim)(
      ids => {
        val data = new Array[Float](ids.length * dim)
        if (payload) Block(ids, data, new Array[Map[String, String]](ids.length),
          new Array[String](ids.length))
        else Block(ids, data)
      },
      (b, n, id, row) => {
        // diagnostic, not a bare NPE: the corpus schema allows
        // embedding-less rows (embed-on-write), and callers are expected
        // to filter them before indexing
        if (row.isNullAt(1)) throw new IllegalArgumentException(
          s"cannot index a null vector (id=$id); " +
            "filter embedding IS NOT NULL before VectorIndex.build")
        val v = row.getArray(1)
        if (v.numElements() != dim) throw new IllegalArgumentException(
          s"vectors must have the same length: ${v.numElements()} vs $dim")
        val off = n * dim
        var i = 0
        while (i < dim) { b.data(off + i) = v.getFloat(i); i += 1 }
        if (payload) {
          b.metadata(n) = toMetadata(row.get(2, metadataType)).asInstanceOf[Map[String, String]]
          b.content(n) = if (row.isNullAt(3)) null else row.getUTF8String(3).toString
        }
      },
      (b, n) => Block(b.ids.take(n), java.util.Arrays.copyOf(b.data, n * dim),
        if (payload) b.metadata.take(n) else null,
        if (payload) b.content.take(n) else null))
    new VectorIndex[K](blocks, dim, payload)
  }
}

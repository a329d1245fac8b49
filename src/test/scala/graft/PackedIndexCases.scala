package graft

import org.apache.spark.sql.DataFrame

import graft.ops.{Int8VectorIndex, PackedIndex, Quantize, VectorIndex, VectorSearch}

/** Packed-index cases with the slab kind as one more input. Every kind
  * builds from the same (vec_id: Long, embedding: float[]) corpus and
  * must equal its own DataFrame tier bit for bit, ties included: float32
  * against [[VectorSearch.topK]], int8 against [[Quantize.quantizedTopK]]. */
trait PackedIndexCases { this: SparkSuite =>

  sealed trait SlabKind {
    type Index <: PackedIndex[Long, _, _]
    def build(df: DataFrame, dim: Int, numBlocks: Int): Index
    /** the index's own top-k, scores widened to double */
    def topK(idx: Index, q: Array[Float], k: Int): Seq[(Long, Double)]
    /** the DataFrame tier the index must equal */
    def reference(df: DataFrame, q: Array[Float], k: Int): Seq[(Long, Double)]
    /** per block: ids in slab order and the packed data length */
    def shapes(idx: Index): Seq[(Seq[Long], Int)]
  }

  object F32 extends SlabKind {
    type Index = VectorIndex[Long]
    def build(df: DataFrame, dim: Int, numBlocks: Int): Index =
      VectorIndex.build[Long](df, "vec_id", "embedding", dim, numBlocks)
    def topK(idx: Index, q: Array[Float], k: Int): Seq[(Long, Double)] =
      idx.topK(q, k).map { case (id, s) => (id, s.toDouble) }.toSeq
    def reference(df: DataFrame, q: Array[Float], k: Int): Seq[(Long, Double)] =
      VectorSearch.topK(df, "embedding", q, k, "vec_id").collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Float]("similarity").toDouble)).toSeq
    def shapes(idx: Index): Seq[(Seq[Long], Int)] =
      idx.blocks.map(b => (b.ids.toSeq, b.data.length)).collect().toSeq
  }

  object Int8 extends SlabKind {
    type Index = Int8VectorIndex[Long]
    def build(df: DataFrame, dim: Int, numBlocks: Int): Index =
      Int8VectorIndex.build[Long](Quantize.quantize(df, "embedding"),
        "vec_id", "qvec", "qscale", dim, numBlocks)
    def topK(idx: Index, q: Array[Float], k: Int): Seq[(Long, Double)] =
      idx.topK(q, k).toSeq
    def reference(df: DataFrame, q: Array[Float], k: Int): Seq[(Long, Double)] =
      Quantize.quantizedTopK(Quantize.quantize(df, "embedding"), q, k, "vec_id")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def shapes(idx: Index): Seq[(Seq[Long], Int)] =
      idx.blocks.map(b => (b.ids.toSeq, b.data.length)).collect().toSeq
  }

  /** Five copies of one vector spread across blocks: every score ties, so
    * a score-only heap would resolve the winners by block order —
    * layout-dependent and diverging from the DataFrame tiers'
    * (desc similarity, asc id) contract. Checked on the driver-local and
    * the forced-distributed tier. */
  def tieOrderCase(kind: SlabKind): Unit = {
    import spark.implicits._
    val v = Array(0.6f, 0.8f)
    val dup = withLogLevel(Seq(
      (40L, v), (10L, v), (30L, v), (20L, v), (50L, v),
      (5L, Array(0.8f, 0.6f))
    ).toDF("vec_id", "embedding").repartition(3))
    val expected = kind.reference(dup, v, 3)
    assert(expected.map(_._1) === Seq(10L, 20L, 30L), "ties: id asc")
    for (distributed <- Seq(false, true)) {
      val idx = kind.build(dup, 2, 3).persist().materialize(forceDistributed = distributed)
      try {
        assert(idx.isLocal === !distributed)
        assert(kind.topK(idx, v, 3) === expected, s"distributed = $distributed")
      } finally idx.unpersist(blocking = true)
    }
  }

  /** The streaming-slab build emits one small first chunk (4096 rows)
    * then full-cap chunks; the unit corpora elsewhere never exceed 4096
    * rows per partition. 5000 rows in ONE partition must split 4096 + 904
    * with trimmed data, every id preserved in order, and top-k equal to
    * the DataFrame tier. */
  def chunkBoundaryCase(kind: SlabKind): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val rows = (0L until 5000L).map { id =>
      (id, Array.fill(4)(rnd.nextFloat() * 2f - 1f))
    }
    val df = withLogLevel(rows.toDF("vec_id", "embedding").coalesce(1))
    val idx = kind.build(df, 4, 1)
    val shapes = kind.shapes(idx)
    assert(shapes.map(_._1.length) === Seq(4096, 904), "chunk split")
    // data arrays trimmed to exactly rows*dim (persisted bytes == data)
    assert(shapes.map(_._2) === Seq(4096 * 4, 904 * 4))
    assert(shapes.flatMap(_._1) === (0L until 5000L), "ids must survive chunking in order")
    val qv = rows(1234)._2
    assert(kind.topK(idx, qv, 7) === kind.reference(df, qv, 7))
  }
}

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
    /** the index's top-k over the rows whose id is not `drop`, scored
      * under a row filter; None for a kind that takes no filter */
    def keptTopK(idx: Index, q: Array[Float], k: Int, drop: Long): Option[Seq[(Long, Double)]]
  }

  object F32 extends SlabKind {
    type Index = VectorIndex[Long]
    /** with the payload when the frame has metadata and content columns */
    def build(df: DataFrame, dim: Int, numBlocks: Int): Index =
      if (df.columns.contains("content"))
        VectorIndex.buildWithPayload[Long](df, "vec_id", "embedding", "metadata", "content", dim, numBlocks)
      else VectorIndex.build[Long](df, "vec_id", "embedding", dim, numBlocks)
    def topK(idx: Index, q: Array[Float], k: Int): Seq[(Long, Double)] =
      idx.topK(q, k).map { case (id, s) => (id, s.toDouble) }.toSeq
    def reference(df: DataFrame, q: Array[Float], k: Int): Seq[(Long, Double)] =
      VectorSearch.topK(df, "embedding", q, k, "vec_id").collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Float]("similarity").toDouble)).toSeq
    def shapes(idx: Index): Seq[(Seq[Long], Int)] =
      idx.blocks.map(b => (b.ids.toSeq, b.data.length)).collect().toSeq
    def keptTopK(idx: Index, q: Array[Float], k: Int, drop: Long): Option[Seq[(Long, Double)]] =
      Some(idx.topKRows(q, k, Some((b, r) => b.ids(r) != drop))
        .map(h => (h.id, h.similarity.toDouble)).toSeq)
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
    def keptTopK(idx: Index, q: Array[Float], k: Int, drop: Long): Option[Seq[(Long, Double)]] = None
  }

  /** Five copies of one vector: every score ties, so a score-only heap
    * would resolve the winners by layout — block order, or a row's place
    * in the scan's 4-row groups — diverging from the DataFrame tiers'
    * (desc similarity, asc id) contract. Two layouts: the copies spread
    * across blocks, and one 9-row block with the copies at rows 2-6
    * (groups 0-3 | 4-7 | tail row 8), ids descending with the row.
    * Checked on the driver-local and the forced-distributed tier, and
    * for a kind that takes a row filter, with one of the copies dropped. */
  def tieOrderCase(kind: SlabKind): Unit = {
    import spark.implicits._
    val v = Array(0.6f, 0.8f)
    val spread = Seq(40L, 10L, 30L, 20L, 50L).map(_ -> v) :+ (5L -> Array(0.8f, 0.6f))
    val grouped = Seq(7L, 3L, 50L, 40L, 30L, 20L, 10L, 1L, 60L).zipWithIndex.map {
      case (id, row) => id -> (if (row >= 2 && row <= 6) v else Array(0.1f * row, -0.2f))
    }
    val layouts = Seq[(String, Seq[(Long, Array[Float])], Int, DataFrame => DataFrame)](
      ("spread", spread, 3, _.repartition(3)),
      ("one 9-row block", grouped, 1, _.coalesce(1)))
    for ((layout, rows, blocks, place) <- layouts) withClue(s"$layout: ") {
      val df = withLogLevel(place(rows.map { case (id, e) => (id, e, Map.empty[String, String], "") }
        .toDF("vec_id", "embedding", "metadata", "content")))
      val ks = Seq(3, 5, rows.length)
      val expected = ks.map(k => kind.reference(df, v, k))
      for ((k, e) <- ks.zip(expected))
        assert(e.map(_._1).take(5) === Seq(10L, 20L, 30L, 40L, 50L).take(k), s"ties: id asc, k = $k")
      val kept = df.filter($"vec_id" =!= 40L)
      for (distributed <- Seq(false, true)) {
        val idx = kind.build(df, 2, blocks).persist().materialize(forceDistributed = distributed)
        try {
          assert(idx.isLocal === !distributed)
          if (blocks == 1) assert(kind.shapes(idx).map(_._1.length) === Seq(rows.length))
          for ((k, e) <- ks.zip(expected)) withClue(s"distributed = $distributed, k = $k: ") {
            assert(kind.topK(idx, v, k) === e)
            kind.keptTopK(idx, v, k, 40L).foreach(got => assert(got === kind.reference(kept, v, k)))
          }
        } finally idx.unpersist(blocking = true)
      }
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

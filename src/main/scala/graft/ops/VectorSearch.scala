package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TopKAggregate.topk_rows
import graft.functions.VectorFunctions.{cosine_sim, dot_const_f32, dot_const_f64, dot_f32, dot_f64}

/**
 * Similarity search over an embedding column — the reference's core
 * query pipeline (query.go:165-245) generalized to arbitrary tables.
 *
 * Scale notes:
 *  - `topK` plans as filter → project → TakeOrderedAndProject: bounded
 *    per-partition heap + driver merge of k rows, no shuffle, no full sort.
 *  - The query vector is a literal (KBs) — never a join.
 *  - `knnJoin` (many queries at once) broadcasts the query side and keeps
 *    the 100 TB corpus un-shuffled; per-query top-k is a bounded-heap
 *    AGGREGATE (not a window), so the map side pre-reduces each partition
 *    to ≤ k rows per query and the only exchange carries
 *    partitions × queries × k rows — independent of corpus size.
 */
object VectorSearch {

  /** Exact f64 re-rank of a (small) candidate id set: semi-join the float
    * column back for candidates only, then the standard bounded top-k.
    * Shared by the int8 / PQ / IVF-PQ first-pass tiers. */
  def exactRerank(
      df: org.apache.spark.sql.DataFrame,
      vecCol: String,
      idCol: String,
      candidates: org.apache.spark.sql.DataFrame,
      queryVec: Array[Float],
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val exact = df.join(broadcast(candidates.select(idCol)), Seq(idCol), "left_semi")
    topK(exact, vecCol, queryVec, k, idCol, precision = "f64")
      .select(col(idCol), col("similarity"))
  }

  /** Score every row against `queryVec`; precision "f32" matches the
    * reference kernel (vector.go:14-26), "f64" is oracle-friendly. */
  def scored(
      df: DataFrame,
      vecCol: String,
      queryVec: Array[Float],
      precision: String = "f32",
      scoreName: String = "similarity"): DataFrame = {
    val score = precision match {
      case "f32" => dot_const_f32(col(vecCol), queryVec)
      // dot_const_f64, NOT dot_f64 over a typedLit: the literal-array
      // form unboxes every element of the query per ROW (~153M unboxings
      // per 100k-doc query at d=1536 — the cost DotProductConstF32's doc
      // quantifies); the const kernel holds a primitive double[] and is
      // bit-identical (same float→double widening, same fold order)
      case "f64" => dot_const_f64(col(vecCol), queryVec.map(_.toDouble))
      case "cosine" => cosine_sim(col(vecCol), typedLit(queryVec.toIndexedSeq))
      case other => throw new IllegalArgumentException(s"unknown precision: $other")
    }
    df.withColumn(scoreName, score)
  }

  /** Brute-force top-k by dot product (== cosine for normalized vectors). */
  def topK(
      df: DataFrame,
      vecCol: String,
      queryVec: Array[Float],
      k: Int,
      idCol: String = "id",
      precision: String = "f32"): DataFrame =
    scored(df, vecCol, queryVec, precision)
      .orderBy(desc("similarity"), asc(idCol))
      .limit(k)

  /** All rows with similarity >= threshold (range search). */
  def thresholdSearch(
      df: DataFrame,
      vecCol: String,
      queryVec: Array[Float],
      threshold: Double,
      precision: String = "f32"): DataFrame =
    scored(df, vecCol, queryVec, precision).filter(col("similarity") >= lit(threshold))

  /** Negative-filter search — reference NEGATIVE_MODE_FILTER
    * (query.go:221-231): drop rows too similar to `negativeVec`, then top-k. */
  def negativeFilterTopK(
      df: DataFrame,
      vecCol: String,
      queryVec: Array[Float],
      negativeVec: Array[Float],
      negThreshold: Double,
      k: Int,
      idCol: String = "id",
      precision: String = "f32"): DataFrame = {
    // the negative filter must measure with the SAME metric as the main
    // score: under precision="cosine" (unnormalized corpora) a raw dot
    // would compare against negThreshold on a norm-scaled axis and
    // silently drop rows whose true cosine is below the threshold
    val negSim = precision match {
      case "f64" => dot_f64(col(vecCol), typedLit(negativeVec.toIndexedSeq))
      case "cosine" => cosine_sim(col(vecCol), typedLit(negativeVec.toIndexedSeq))
      case _ => dot_const_f32(col(vecCol), negativeVec)
    }
    scored(df, vecCol, queryVec, precision)
      .filter(negSim <= lit(negThreshold))
      .orderBy(desc("similarity"), asc(idCol))
      .limit(k)
  }

  /** Top-k rows per group via the bounded-heap aggregate: each map task
    * keeps ≤ k rows per group, so the group-key exchange moves
    * partitions × groups × k rows instead of the whole scored corpus (and
    * a hot group costs a bigger heap, not a straggler reducer). Ranking is
    * (similarity desc, idCol asc) — identical to the window formulation. */
  def topKPerGroup(
      df: DataFrame,
      vecCol: String,
      queryVec: Array[Float],
      k: Int,
      groupCol: String,
      idCol: String = "id",
      precision: String = "f32"): DataFrame = {
    // a pre-existing 'similarity' column would be silently overwritten by
    // scored() AND duplicate the payload struct's field name, failing
    // getField with an ambiguous-reference error — reject it up front
    require(!df.columns.contains("similarity"),
      "input already has a 'similarity' column; rename it first")
    val carry = df.columns.filterNot(c => c == idCol || c == groupCol)
    val payload = struct(
      (col("similarity") +: col(idCol) +: carry.map(col).toSeq): _*)
    val outCols = df.columns.map(c =>
        if (c == groupCol) col(groupCol) else col("__e").getField(c).as(c)) :+
      col("__e").getField("similarity").as("similarity")
    scored(df, vecCol, queryVec, precision)
      .groupBy(col(groupCol))
      .agg(topk_rows(payload, k).as("__topk"))
      .select(col(groupCol), explode(col("__topk")).as("__e"))
      .select(outCols.toIndexedSeq: _*)
  }

  /**
   * Batch k-NN: for EVERY query row, the top-k corpus rows.
   * The query side is broadcast (small by construction); the corpus is
   * scanned once with no shuffle; per-query top-k is the bounded-heap
   * aggregate — the map side reduces every partition of the scored cross
   * product to ≤ k rows per query BEFORE the exchange, so shuffle volume
   * is partitions × |queries| × k, never |corpus| × |queries|.
   */
  def knnJoin(
      corpus: DataFrame,
      corpusVecCol: String,
      corpusIdCol: String,
      queries: DataFrame,
      queryVecCol: String,
      queryIdCol: String,
      k: Int,
      precision: String = "f32"): DataFrame = {
    // same guard as topKPerGroup: a corpus 'similarity' column would
    // collide with the score field in the heap payload
    require(!corpus.columns.contains("similarity"),
      "corpus already has a 'similarity' column; rename it first")
    val q = broadcast(queries.select(
      col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv")))
    val score = precision match {
      case "f64" => dot_f64(col(corpusVecCol), col("__qv"))
      case "cosine" => cosine_sim(col(corpusVecCol), col("__qv"))
      case _ => dot_f32(col(corpusVecCol), col("__qv"))
    }
    val carry = corpus.columns.filterNot(_ == corpusIdCol)
    val payload = struct(
      (col("similarity") +: col(corpusIdCol) +: carry.map(col).toSeq): _*)
    val outCols = corpus.columns.map(c => col("__e").getField(c).as(c)) ++
      Seq(col("query_id"), col("__e").getField("similarity").as("similarity"))
    corpus.crossJoin(q)
      .withColumn("similarity", score)
      .groupBy(col("query_id"))
      .agg(topk_rows(payload, k).as("__topk"))
      .select(col("query_id"), explode(col("__topk")).as("__e"))
      .select(outCols.toIndexedSeq: _*)
  }

  /**
   * Cell-bucketed batch kNN — the shape for a BIG query side, where
   * [[knnJoin]]'s broadcast no longer fits: both sides are assigned to
   * the same integer-exact k-means cells ([[KMeans]] fit on the
   * corpus), each query probes its `nProbe` nearest cells, candidates
   * meet in a (cell) equi-join, and per-query top-k is the
   * bounded-heap aggregate. Exchanges: corpus rows shuffle ONCE by
   * cell, query rows nProbe× by cell, and the aggregate carries
   * partitions × |queries| × k — never |corpus| × |queries|.
   * Similarity is the exact integer e7 dot (`sim_e14`), so ranking,
   * reruns, and the SQL oracle replay are drift-free. The
   * approximation is the cell prune alone (recall = P(true neighbor
   * lands in a probed cell)); inside probed cells scoring is exact.
   * At production scale cells ≈ √n ≫ cluster parallelism, so the cell
   * key alone spreads the join — the miniature gate fit documents,
   * not exercises, that spread.
   */
  def knnJoinIVF(
      corpus: DataFrame,
      corpusVecCol: String,
      corpusIdCol: String,
      queries: DataFrame,
      queryVecCol: String,
      queryIdCol: String,
      k: Int,
      cells: Int,
      iterations: Int,
      nProbe: Int,
      scale: Long = 10000000L): DataFrame = {
    require(k > 0 && cells >= 1 && nProbe >= 1 && nProbe <= cells,
      "need k > 0 and 1 <= nProbe <= cells")
    val model = KMeans.fit(corpus, corpusVecCol, corpusIdCol, cells, iterations, scale)
    val corpusCells = KMeans.assignScaled(corpus, corpusVecCol, corpusIdCol, model)
      .select(col(corpusIdCol).as("__cid"), col("cell"), col("e7").as("__ce"))
    // probe cells: nProbe smallest (dist, cell) — the same c²−2y metric
    // and first-min tie-break as the assignment itself (Σe7² is
    // row-constant, so the ordering matches true distance order)
    val c2 = model.centroids.map(_.map(c => c * c).sum).toSeq
    val probes = transform(col("__y"), (y, i) =>
      struct(
        (element_at(typedlit(c2), (i + lit(1)).cast("int")) - y * lit(2L)).as("d"),
        i.cast("long").as("cell")))
    val qFrame = queries.filter(col(queryVecCol).isNotNull)
      .select(col(queryIdCol).as("__qid"),
        transform(col(queryVecCol),
          e => round(e.cast("double") * scale).cast("long")).as("__qe"),
        graft.functions.IntKernels
          .scaled_matmul(col(queryVecCol), model.centroids, scale).as("__y"))
      .select(col("__qid"), col("__qe"),
        explode(slice(array_sort(probes), 1, nProbe)).as("__p"))
      .select(col("__qid"), col("__qe"), col("__p.cell").as("cell"))
    val payload = struct(col("__sim"), col("__cid"))
    corpusCells.join(qFrame, Seq("cell"))
      .withColumn("__sim",
        graft.functions.DenseVec.dense_dot(col("__qe"), col("__ce")))
      .groupBy(col("__qid"))
      .agg(graft.functions.TopKAggregate.topk_rows(payload, k).as("__t"))
      .select(col("__qid").as("query_id"), explode(col("__t")).as("__e"))
      .select(col("query_id"), col("__e.__cid").as("corpus_id"),
        col("__e.__sim").as("sim_e14"))
  }

  /**
   * Hard-negative mining for contrastive training (the DPR/SimCSE data
   * recipe): for every query, the `k` MOST similar corpus rows that are
   * neither the query itself nor one of its labeled positives — the
   * negatives that actually move a contrastive loss. Built on
   * [[knnJoinIVF]] (shared integer k-means cells, exact e7-dot
   * ranking), over-fetching `k + maxPositives` per query so the
   * anti-join against the positives table cannot starve the result,
   * then re-truncating with the bounded-heap aggregate.
   *
   * Scale shape: inherits knnJoinIVF's exchanges; the positives
   * anti-join keys on (query_id, corpus_id) id pairs — positives
   * tables are label-sized, so Catalyst broadcasts them. Determinism:
   * all ranking is exact integers with (sim DESC, id) ties.
   */
  def hardNegatives(
      corpus: DataFrame,
      corpusVecCol: String,
      corpusIdCol: String,
      queries: DataFrame,
      queryVecCol: String,
      queryIdCol: String,
      positives: DataFrame, // (query_id, pos_id)
      k: Int,
      maxPositives: Int,
      cells: Int,
      iterations: Int,
      nProbe: Int,
      scale: Long = 10000000L): DataFrame = {
    require(maxPositives >= 0, "maxPositives must be >= 0")
    val cand = knnJoinIVF(corpus, corpusVecCol, corpusIdCol,
      queries, queryVecCol, queryIdCol, k + maxPositives + 1,
      cells, iterations, nProbe, scale)
    val pos = positives.select(col("query_id"), col("pos_id").as("corpus_id"))
    val payload = struct(col("sim_e14"), col("corpus_id"))
    cand
      .filter(col("corpus_id") =!= col("query_id"))
      .join(pos, Seq("query_id", "corpus_id"), "left_anti")
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate.topk_rows(payload, k).as("__t"))
      .select(col("query_id"), explode(col("__t")).as("__e"))
      .select(col("query_id"), col("__e.corpus_id").as("negative_id"),
        col("__e.sim_e14").as("sim_e14"))
  }

  /**
   * Maximal Marginal Relevance re-rank: select `k` of the candidate rows
   * greedily by `lambda·relevance − (1−lambda)·max cosine to the already
   * selected` (Carbonell & Goldstein 1998) — the standard
   * diversity-aware final stage over a first-pass top-K list.
   *
   * Scale shape: runs AFTER a bounded retrieval (topK / ANN probe), so
   * the candidate list is k-sized by construction (≤ a few thousand
   * rows); the greedy loop is driver-local over that bounded set — the
   * same envelope as the reference's in-process result stage. The 100 TB
   * corpus is only touched by the first-pass retrieval. Deterministic:
   * score ties break by id ascending.
   *
   * `candidates` must carry (idCol: string-castable, vecCol:
   * Array[Float], scoreCol: numeric relevance, higher = better).
   * Returns (id, relevance, mmr_rank) — mmr_rank is 1-based selection
   * order.
   */
  def mmrRerank(
      candidates: DataFrame,
      vecCol: String,
      idCol: String,
      scoreCol: String,
      k: Int,
      lambda: Double = 0.7): DataFrame = {
    require(k > 0, "k must be > 0")
    require(lambda >= 0 && lambda <= 1, "lambda must be in [0,1]")
    val spark = candidates.sparkSession
    import org.apache.spark.sql.Row
    // null ids/vectors/scores would NPE mid-greedy, and duplicate ids
    // would share one maxSimToPicked slot (one row's diversity penalty
    // computed from another's vector) — the exact twin
    // (mmrRerankExactE7) documents the same preconditions; enforce them
    // here at collect time (the frame is candidate-sized)
    val rows = candidates
      // NaN relevance filtered WITH the nulls: both comparison branches
      // of the greedy argmax are false for NaN, so a NaN-scored
      // candidate could leave `best` null and NPE the rerank
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull &&
        col(scoreCol).isNotNull && !isnan(col(scoreCol).cast("double")))
      .select(col(idCol).cast("string"), col(vecCol),
        col(scoreCol).cast("double"))
      .collect()
      .map(r => (r.getString(0),
        r.getSeq[Float](1).toArray,
        r.getDouble(2)))
      .sortBy { case (id, _, rel) => (-rel, id) }
    require(rows.map(_._1).distinct.length == rows.length,
      "mmrRerank requires distinct candidate ids")
    val picked = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val remaining = scala.collection.mutable.ArrayBuffer(rows.toIndexedSeq: _*)
    val maxSimToPicked = scala.collection.mutable.HashMap.empty[String, Double]
    while (picked.length < math.min(k, rows.length)) {
      var best: (String, Array[Float], Double) = null
      var bestScore = Double.NegativeInfinity
      for (c <- remaining) {
        val div = maxSimToPicked.getOrElse(c._1, 0.0)
        val s = if (picked.isEmpty) c._3
                else lambda * c._3 - (1 - lambda) * div
        if (s > bestScore + 1e-12 ||
            (math.abs(s - bestScore) <= 1e-12 && best != null && c._1 < best._1)) {
          best = c; bestScore = s
        }
      }
      // every remaining greedy score NaN (a zero-norm candidate vector
      // makes cosineLocal — and hence the diversity term — NaN, and NaN
      // fails both argmax branches): fall back to the deterministic
      // (relevance desc, id asc) pre-sort order instead of an NPE
      if (best == null) best = remaining.head
      picked += ((best._1, best._3))
      remaining -= best
      // fold the new pick into every survivor's max-sim-to-selected
      for (c <- remaining) {
        val sim = cosineLocal(c._2, best._2)
        val cur = maxSimToPicked.getOrElse(c._1, Double.NegativeInfinity)
        if (sim > cur) maxSimToPicked(c._1) = sim
      }
    }
    val out = picked.zipWithIndex.map { case ((id, rel), i) =>
      Row(id, rel, (i + 1).toLong)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol,
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField(scoreCol,
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("mmr_rank",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /**
   * Integer-exact MMR — the oracle-gatable twin of [[mmrRerank]]: the
   * first-pass top-`numCandidates` retrieval ranks by the EXACT
   * e7-integer dot (vectors scaled to `round(x·1e7)` longs; per-term
   * products ≤ 1e14, 64-dim sums ≤ 6.4e15 — well inside Long), the
   * greedy λ-tradeoff is the integer score
   * `num·rel − (den−num)·maxDivToPicked` with λ = num/den as a RATIONAL
   * (a float λ could tie-break differently across engines), and ties
   * break by id ascending. For normalized embeddings the dot IS cosine,
   * so selection matches [[mmrRerank]]'s semantics with drift-free
   * arithmetic — every greedy stage replays exactly in SQL as an
   * unrolled CTE (the graph_pagerank unrolled-rounds convention).
   *
   * Scale shape: the first pass is the zero-shuffle bounded scan
   * (TakeOrderedAndProject on the integer rel); the greedy loop is
   * driver-local over that bounded candidate list BY DESIGN — the same
   * envelope as the reference's in-process result stage; the corpus is
   * touched only by the first pass.
   *
   * `idCol` must be long-castable. Returns (idCol, rel_e14, mmr_rank).
   */
  def mmrRerankExactE7(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      queryVec: Array[Float],
      numCandidates: Int,
      k: Int,
      lambdaNum: Long = 7L,
      lambdaDen: Long = 10L,
      scale: Long = 10000000L): DataFrame = {
    require(k > 0 && numCandidates >= k, "need 0 < k <= numCandidates")
    require(lambdaDen > 0 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      "lambda = num/den must be in [0,1]")
    // overflow bound for the Long greedy arithmetic: every score term is
    // ≤ lambdaDen · |rel| ≤ lambdaDen · dim · scale² (normalized inputs;
    // each |e7 component| ≤ scale). Checked in BigInt so the CHECK can't
    // itself wrap — a silent wrap would invert greedy comparisons while
    // the doc promises exactness.
    require(BigInt(lambdaDen) * queryVec.length * BigInt(scale) * scale <=
      BigInt(Long.MaxValue),
      s"lambdaDen·dim·scale² exceeds Long range (den=$lambdaDen, " +
        s"dim=${queryVec.length}, scale=$scale) — shrink scale or lambda " +
        "denominator to keep the greedy arithmetic exact")
    val spark = df.sparkSession
    // HALF_UP on the decimal rendering — the exact convention Spark's
    // round() applies to the corpus side (and DuckDB's round() to the
    // oracle side). Scala math.round is half-toward-positive-infinity,
    // which differs on negative half-boundaries (round(-0.5): 0 vs -1)
    // and would break the drift-free contract.
    val qe = queryVec.map(v =>
      java.math.BigDecimal.valueOf(v.toDouble * scale)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue)
    val cands = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        graft.functions.ColumnMath.scaledLongs(col(vecCol), scale).as("__e7"))
      .withColumn("__rel", graft.functions.DenseVec.dense_dot(
        col("__e7"), typedLit(qe.toIndexedSeq)))
      .orderBy(desc("__rel"), asc("__id"))
      .limit(numCandidates)
      .collect()
      .map { r =>
        require(!r.isNullAt(0),
          s"$idCol must cast to a non-null long (got a null-cast id)")
        (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2))
      }
    require(cands.map(_._1).distinct.length == cands.length,
      s"$idCol values must be unique after the long cast — duplicates " +
        "would silently collapse candidates and crash the greedy loop")
    def pairDot(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val remaining = scala.collection.mutable.LinkedHashMap(
      cands.sortBy { case (id, _, rel) => (-rel, id) }
        .map(c => c._1 -> c).toIndexedSeq: _*)
    val maxDiv = scala.collection.mutable.HashMap.empty[Long, Long]
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    while (picked.length < math.min(k, cands.length)) {
      var bestId = 0L
      var bestScore = 0L
      var first = true
      for ((id, (_, _, rel)) <- remaining) {
        // first pick is pure relevance (λ-scaled — within-round compares
        // only need a monotone transform); later picks trade off the max
        // integer dot to the already-selected set
        val s = if (picked.isEmpty) lambdaDen * rel
                else lambdaNum * rel - (lambdaDen - lambdaNum) * maxDiv(id)
        // exact-integer scores tie only on true equality; break by id
        // ascending — the same (score DESC, id ASC) order the SQL
        // replay's ORDER BY uses, independent of iteration order
        if (first || s > bestScore || (s == bestScore && id < bestId)) {
          bestId = id; bestScore = s; first = false
        }
      }
      val (_, bestVec, bestRel) = remaining.remove(bestId).get
      picked += ((bestId, bestRel))
      for ((id, (_, v, _)) <- remaining) {
        val d = pairDot(v, bestVec)
        if (!maxDiv.contains(id) || d > maxDiv(id)) maxDiv(id) = d
      }
    }
    import spark.implicits._
    picked.zipWithIndex
      .map { case ((id, rel), i) => (id, rel, (i + 1).toLong) }
      .toSeq.toDF(idCol, "rel_e14", "mmr_rank")
  }

  private def cosineLocal(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Deterministic Gaussian hyperplanes (Box–Muller over splitmix-style
    * per-index seeds — reproducible on any executor). */
  private[graft] def randomPlanes(numPlanes: Int, dim: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** Driver-side signature twin of [[hyperplaneSignature]]. FLOAT
    * accumulation, deliberately: the corpus side signs
    * `dot_const_f32` (float fold), and a double-accumulated query twin
    * flips the sign bit differently for dots within float rounding of
    * zero — inflating the hamming distance by 1 per affected plane and,
    * at maxHamming 0-1, silently excluding an exact self-match from the
    * candidate set. Same fold order + precision = bit-equal signs. */
  private[graft] def signatureOf(v: Array[Float], planes: Array[Array[Float]]): Long = {
    var sig = 0L
    var p = 0
    while (p < planes.length) {
      var s = 0.0f; var i = 0
      while (i < v.length) { s += v(i) * planes(p)(i); i += 1 }
      if (s >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Signature as a Column: sum of bit contributions via per-plane dot
    * signs — pure Catalyst (no UDF). */
  private[ops] def hyperplaneSignature(vec: Column, planes: Array[Array[Float]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      when(dot_const_f32(vec, plane) >= lit(0f), lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
}

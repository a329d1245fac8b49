package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Filters
import graft.ops.{Dedup, TextAnalysis, VectorSearch}
import graft.GateSupport._

/**
 * Query-path gates: the chromem-parity Q1-Q8 surface (filters,
 * similarity scoring, top-k, catalog ops), vector kernels, the ANN
 * tiers (LSH/IVF/PQ/IVF-PQ/quantized/Hamming), batch kNN, retrieval
 * (BM25/hybrid), and the ANN evaluation reports.
 *
 * One gate domain of [[SparkEntry]] (assembled there); every entry
 * keeps a matching oracle in this file so a query and its DuckDB
 * replay are reviewed together.
 */
private[graft] object SparkEntryCore {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Q1/Q3: full scan + $contains/$not_contains content predicates ----
    "q_filter_contains" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(col("lang") === "en" &&
          col("text").contains("filter") && !col("text").contains("slow"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // ---- Q2: metadata-map equality with missing-key ⇒ "" semantics ----
    "q_metadata_where" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("metadata",
          map(lit("lang"), col("lang"), lit("source"), col("source")))
        .filter(Filters.metadataPredicate(Map("lang" -> "de", "missing" -> "")))
        .select(col("doc_id"), col("source"))
    }),

    // ---- Q4+Q6: similarity scoring + top-k (TakeOrderedAndProject) ----
    "q_similarity_topk" -> ((s, dir) => {
      VectorSearch.topK(t(s, dir, "embeddings"), "embedding", vec(s, dir, 0),
          k = 10, idCol = "vec_id", precision = "f64")
        .select(col("vec_id"), round(col("similarity"), 4).as("sim"))
    }),

    // ---- range search: all rows above a similarity threshold ----
    "q_similarity_range" -> ((s, dir) => {
      VectorSearch.thresholdSearch(t(s, dir, "embeddings"), "embedding",
          vec(s, dir, 0), threshold = 0.25, precision = "f64")
        .select(col("vec_id"), col("label"), round(col("similarity"), 4).as("sim"))
    }),

    // ---- MMR diversity re-rank over a first-pass top-30: the
    // integer-exact tier (e7 dots, rational λ=7/10, id tie-breaks) so
    // the greedy selection replays EXACTLY in SQL as 10 unrolled CTE
    // stages — the graph_pagerank unrolled-rounds convention. The
    // greedy loop itself is driver-local over the bounded candidate
    // list by design (the corpus is only touched by the zero-shuffle
    // first pass); the float-λ mmrRerank API stays for serving and is
    // pinned in VectorSearchSpec ----
    "q_mmr_rerank" -> ((s, dir) =>
      VectorSearch.mmrRerankExactE7(t(s, dir, "embeddings"), "embedding",
        "vec_id", vec(s, dir, 0), numCandidates = 30, k = 10,
        lambdaNum = 7L, lambdaDen = 10L)),

    // ---- attribute-filtered vector search: metadata predicate composes
    // with the scan top-k; the filter pushes to the parquet reader, so
    // the ranking only ever scores surviving rows (plan-pinned) ----
    "q_filtered_topk" -> ((s, dir) => {
      VectorSearch.topK(t(s, dir, "embeddings").filter(col("label") % 3 === 0),
          "embedding", vec(s, dir, 0), k = 10, idCol = "vec_id",
          precision = "f64")
        .select(col("vec_id"), col("label"),
          round(col("similarity"), 4).as("sim"))
    }),

    // ---- Q5: negative-filter query (drop rows similar to negative) ----
    "q_negative_filter" -> ((s, dir) => {
      VectorSearch.negativeFilterTopK(t(s, dir, "embeddings"), "embedding",
          vec(s, dir, 0), vec(s, dir, 1), negThreshold = 0.1, k = 10,
          idCol = "vec_id", precision = "f64")
        .select(col("vec_id"), round(col("similarity"), 4).as("sim"))
    }),

    // ---- $and/$or filter combinators (reference roadmap extension) ----
    "q_filter_combinators" -> ((s, dir) => {
      import graft.core.Filters._
      t(s, dir, "documents")
        .withColumn("metadata",
          map(lit("lang"), col("lang"), lit("source"), col("source")))
        .withColumn("content", col("text"))
        .filter(compile(And(Seq(
          Or(Seq(MetaEq("lang", "en"), MetaEq("lang", "de"))),
          ContentNotContains("slow")))))
        .select(col("doc_id"), col("lang"))
    }),

    // ---- Q5 subtract mode: query := normalize(query - negative), then
    // the standard pipeline (reference collection.go:462-464). Double
    // arithmetic end-to-end for oracle parity; the float32 reference
    // semantics are pinned by NegativeQuerySpec. ----
    "q_negative_subtract" -> ((s, dir) => {
      val q = vec(s, dir, 0).map(_.toDouble)
      val n = vec(s, dir, 1).map(_.toDouble)
      val sub = q.indices.map(i => q(i) - n(i)).toArray
      val nrm = math.sqrt(sub.map(x => x * x).sum)
      val subNorm = sub.map(_ / nrm)
      t(s, dir, "embeddings")
        .withColumn("similarity",
          graft.functions.VectorFunctions.dot_const_f64(col("embedding"), subNorm))
        .orderBy(desc("similarity"), asc("vec_id"))
        .limit(10)
        .select(col("vec_id"), round(col("similarity"), 4).as("sim"))
    }),

    // ---- batch k-NN join: top-3 corpus rows per query row ----
    "q_knn_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VectorSearch.knnJoin(emb, "embedding", "vec_id",
          emb.filter(col("vec_id") < 5), "embedding", "vec_id",
          k = 3, precision = "f64")
        .select(col("query_id"), col("vec_id"), round(col("similarity"), 4).as("sim"))
    }),

    // ---- cell-bucketed batch k-NN (big-query-side shape): shared
    // integer k-means cells, nProbe=2 probes, exact e7-dot ranking ----
    "q_knn_join_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VectorSearch.knnJoinIVF(emb, "embedding", "vec_id",
        emb.filter(col("vec_id") % 50 === 0), "embedding", "vec_id",
        k = 5, cells = 4, iterations = 2, nProbe = 2)
    }),

    // ---- hard-negative mining (DPR/SimCSE recipe): per query, the
    // top-5 most-similar corpus rows that are neither the query nor
    // its labeled positive (query_id + 1 here) ----
    "train_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 50 === 0)
      val positives = queries.select(col("vec_id").as("query_id"),
        (col("vec_id") + 1).as("pos_id"))
      VectorSearch.hardNegatives(emb, "embedding", "vec_id",
        queries, "embedding", "vec_id", positives,
        k = 5, maxPositives = 1, cells = 4, iterations = 2, nProbe = 2)
    }),

    // ---- windowed top-k per group ----
    "q_topk_per_label" -> ((s, dir) => {
      VectorSearch.topKPerGroup(t(s, dir, "embeddings"), "embedding",
          vec(s, dir, 0), k = 3, groupCol = "label", idCol = "vec_id",
          precision = "f64")
        .select(col("label"), col("vec_id"), round(col("similarity"), 4).as("sim"))
    }),

    // ---- Count (reference collection.go:391-395) ----
    "q_count" -> ((s, dir) =>
      t(s, dir, "documents").agg(count(lit(1)).as("cnt"))),

    // ---- GetByID point lookup (reference collection.go:311-331) ----
    "q_get_by_id" -> ((s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") === 42)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),

    // ---- ListIDs (reference collection.go:296-306) ----
    "q_list_ids" -> ((s, dir) => t(s, dir, "documents").select(col("doc_id"))),

    // ---- Delete-by-filter = anti-filter new state (collection.go:338-388) ----
    "q_delete_where" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(!(col("lang") === "fr" || col("text").contains("slow")))
        .select(col("doc_id"))),

    // ---- Upsert-by-id: within-batch last-wins merge (collection.go:280) ----
    "q_upsert" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val old = docs.withColumn("__seq", lit(0))
      val batch = docs.filter(col("doc_id") < 10)
        .withColumn("text", upper(col("text"))).withColumn("__seq", lit(1))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("__seq").desc)
      old.unionByName(batch)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), col("text"))
    }),

    // ---- late-interaction retrieval: ColBERT MaxSim with the embedding
    // reshaped as 8 sub-vectors of 8 dims, query = vec 0. Exact integer
    // sub-dots, max/sum over integers, bounded top-k — same zero-shuffle
    // envelope as the flat similarity scan ----
    "q_maxsim_topk" -> ((s, dir) =>
      graft.ops.LateInteraction.maxSimTopK(
        t(s, dir, "embeddings"), "embedding", "vec_id",
        vec(s, dir, 0), 8, 10)),

    // ---- sources: partition-pruned slice read through the Hive-
    // partitioned layout (slice predicate resolves at file listing —
    // PartitionFilters pinned in PartitionedCorpusSpec) ----
    "q_partition_pruned" -> ((s, dir) => {
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_gate_partitioned"
      graft.sources.PartitionedCorpus.save(
        t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        tmp, Seq("lang"))
      graft.sources.PartitionedCorpus.load(s, tmp)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // ---- relational: distinct projection ----
    "q_distinct_types" -> ((s, dir) =>
      events(s, dir).select(col("event_type")).distinct()),

    // ---- vector kernels: L2 norm + normalized-invariant check ----
    "q_vector_norms" -> ((s, dir) =>
      t(s, dir, "embeddings").select(
        col("vec_id"),
        round(graft.functions.VectorFunctions.l2_norm(col("embedding")), 4).as("nrm"),
        graft.functions.VectorFunctions.is_normalized(col("embedding")).as("is_norm"))),

    // ---- vector kernels: normalization semantics (element/norm, f64) ----
    "q_normalize_elem" -> ((s, dir) =>
      t(s, dir, "embeddings").select(
        col("vec_id"),
        round(col("embedding").getItem(0).cast("double") /
          graft.functions.VectorFunctions.l2_norm(col("embedding")), 4).as("e0"))),

    // ---- ANN: LSH-bucketed approximate top-k (deterministic planes) ----
    "q_lsh_topk" -> ((s, dir) => {
      val idx = lshCache.get(s, dir) {
        graft.ops.AnnIndex.buildLsh(t(s, dir, "embeddings"), "embedding",
          "vec_id", dim = 64, numPlanes = 12).materialize()
      }
      // precision="f64": candidate RANKING graded exactly against the
      // f64 oracle (an f32-ulp tie at the k boundary would flip the id
      // set on a healthy build); candidate GENERATION — the signature
      // buckets, this operator's unique surface — is the production path
      idx.topK(vec(s, dir, 0), 10, maxHamming = 3, precision = "f64")
        .select(col("vec_id"))
    }),

    // ---- ANN evaluation: per-query LSH recall@10 vs brute force, exact
    // e7-integer ranking on both sides, integer recall — one Spark job,
    // fully SQL-replayable ----
    "eval_ann_recall" -> ((s, dir) =>
      graft.ops.Evaluation.lshRecallReport(t(s, dir, "embeddings"),
        "embedding", "vec_id", dim = 64, numQueries = 16, k = 10,
        numPlanes = 12, maxHamming = 3,
        precomputedQueries = Some(evalQueries(s, dir)))),

    // ---- ANN evaluation: MRR of the true nearest neighbor inside the
    // LSH candidate ranking; rank = 1 + count-of-better, exact integers ----
    "eval_ann_mrr" -> ((s, dir) =>
      graft.ops.Evaluation.lshMrrReport(t(s, dir, "embeddings"),
        "embedding", "vec_id", dim = 64, numQueries = 16,
        numPlanes = 12, maxHamming = 3,
        precomputedQueries = Some(evalQueries(s, dir)))),

    // ---- ANN: IVF cluster-then-probe; probing ALL cells == exact, so
    // the brute-force top-k SQL is a valid oracle for the id set.
    // The index goes through the DURABLE path — built, written as the
    // partitionBy(__cell) parquet layout, re-opened with IvfState.load —
    // so the gate covers the on-disk form a persistent deployment probes,
    // not just the session cache. ----
    "q_ivf_topk" -> ((s, dir) => {
      val idx = ivfCache.get(s, dir) {
        val path = new java.io.File("target/ivf_gate").getAbsolutePath + "/" +
          java.lang.Integer.toHexString(dir.hashCode)
        val built = graft.ops.AnnIndex.buildIvf(t(s, dir, "embeddings"),
          "embedding", "vec_id", nlist = 4, sampleSize = 500)
        built.save(path)
        built.unpersist()
        val reopened = graft.ops.IvfState.load(s, path)
        reopened.assigned.persist()
        reopened.materialize() // populates the cache FROM the disk layout
      }
      // precision="f64": same ranking-parity rationale as q_lsh_topk
      idx.topK(vec(s, dir, 0), 10, nprobe = 4, precision = "f64")
        .select(col("vec_id"))
    }),

    // ---- keyword retrieval: BM25 top-k (lexical tier). Per-term tf is
    // computed IN-SCAN against the literal term list (no token explode,
    // no shuffle); corpus stats (N, avgdl, df) reduce in one map-side-
    // combined aggregate; top-k is TakeOrderedAndProject. k1 = 1.5 in the
    // gate so every derived constant (k1+1 = 2.5, 1−b = 0.25) is an exact
    // double — the oracle replays the arithmetic bit-for-bit. ----
    "text_bm25" -> ((s, dir) =>
      graft.ops.KeywordSearch.bm25TopK(t(s, dir, "documents"), "text",
          "doc_id", Seq("vector", "query", "spark"), k = 20, k1 = 1.5,
          precomputedStats =
            Some(bm25Stats(s, dir, Seq("vector", "query", "spark"))))
        .select(col("doc_id"), round(col("score"), 4).as("score"))),

    // ---- keyword retrieval over the DURABLE inverted index: bucket-
    // partition-pruned posting scan, probe cost ∝ Σ df(term) instead of a
    // corpus pass. Bit-identical to text_bm25 ⇒ same oracle. ----
    "text_bm25_indexed" -> ((s, dir) => {
      val idx = termIndexCache.get(s, dir) {
        val path = new java.io.File("target/term_index_gate").getAbsolutePath + "/" +
          java.lang.Integer.toHexString(dir.hashCode)
        graft.ops.TermIndex.build(t(s, dir, "documents"), "text", "doc_id", path)
      }
      idx.topK(Seq("vector", "query", "spark"), k = 20, k1 = 1.5)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),

    // ---- hybrid retrieval: RRF fusion (1/(60+rank)) of the BM25 top-30
    // and the cosine top-30 — the standard lexical+semantic merge. ----
    "search_hybrid" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").withColumnRenamed("vec_id", "doc_id")
      graft.ops.KeywordSearch.hybridTopK(
          t(s, dir, "documents"), "text", emb, "embedding", "doc_id",
          Seq("vector", "query", "spark"), vec(s, dir, 0),
          k = 15, fetchK = 30, rrfK = 60, k1 = 1.5,
          precomputedStats =
            Some(bm25Stats(s, dir, Seq("vector", "query", "spark"))))
        .select(col("doc_id"), round(col("rrf"), 4).as("rrf"))
    }),

    // ---- int8 scalar-quantized top-k: the 4×-less-IO first-pass scan
    // tier. Integer dot products are EXACT, so unlike the float kernels
    // this oracle needs no accumulation-order care at all. ----
    "q_quantized_topk" -> ((s, dir) => {
      val q = graft.ops.Quantize.quantize(t(s, dir, "embeddings"), "embedding")
      graft.ops.Quantize.quantizedTopK(q, vec(s, dir, 0), k = 10, idCol = "vec_id")
        .select(col("vec_id"), round(col("qsim"), 4).as("qsim"))
    }),

    // ---- packed int8 byte-slab tier (r15, ops/Int8VectorIndex): the
    // SAME quantization in a packed layout (4× less slab memory/scan
    // bandwidth than f32) — exact integer dot + identical double
    // rescale ⇒ scores bit-equal to q_quantized_topk by construction,
    // so the same oracle replays it. Index built once per dir (the
    // TermIndex/IVF cache pattern). ----
    "q_quantized_topk_packed" -> ((s, dir) => {
      val query = vec(s, dir, 0)
      val idx = int8IndexCache.get(s, dir) {
        graft.ops.Int8VectorIndex.build[Long](
          graft.ops.Quantize.quantize(t(s, dir, "embeddings"), "embedding")
            .select(col("vec_id"), col("qvec"), col("qscale")),
          "vec_id", "qvec", "qscale", dim = query.length)
          .persist().materialize()
      }
      import s.implicits._
      idx.topK(query, 10).toSeq.toDF("vec_id", "qsim")
        .select(col("vec_id"), round(col("qsim"), 4).as("qsim"))
    }),

    // ---- binary sign-quantized Hamming top-k: the coarsest scan tier
    // (1 long/vector, 256× below float32). Signatures, popcount, and
    // ties are all integer — no floats past the sign test. ----
    "q_hamming_topk" -> ((s, dir) =>
      graft.ops.Quantize.hammingTopK(
        t(s, dir, "embeddings"), "embedding", vec(s, dir, 0), k = 10,
        idCol = "vec_id")),

    // ---- product-quantized ADC top-k: the 64×-compression scan tier
    // (m=8 nibble codes per d=64 vector). Deterministic seeded codebook
    // ⇒ the oracle replays encode + table lookups with literal centroids,
    // like the LSH hyperplane oracle. ----
    "q_pq_topk" -> ((s, dir) => {
      val cb = graft.ops.Pq.randomCodebook(dim = 64, m = 8, k = 16, seed = 7L)
      val enc = graft.ops.Pq.encode(t(s, dir, "embeddings"), "embedding", cb)
      graft.ops.Pq.adcTopK(enc, cb, vec(s, dir, 0), k = 10, idCol = "vec_id")
        .select(col("vec_id"), round(col("qsim"), 4).as("qsim"))
    }),

    // ---- IVF-PQ ADC top-k (FAISS IVFPQ shape): coarse cell + residual
    // codes, one fused encode kernel; probing ALL cells makes the full
    // ADC ordering the oracle-checkable result. Seeded cells + codebook
    // ⇒ literal replay. ----
    "q_ivfpq_topk" -> ((s, dir) => {
      val cb = graft.ops.Pq.randomCodebook(dim = 64, m = 8, k = 16, seed = 7L)
      val idx = graft.ops.IvfPq.fromParams(t(s, dir, "embeddings"),
        "embedding", "vec_id", gateIvfPqCells, cb)
      idx.topK(vec(s, dir, 0), k = 10, nprobe = gateIvfPqCells.length)
        .select(col("vec_id"), round(col("qsim"), 4).as("qsim"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q_filter_contains" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'en' AND contains(text, 'filter')
        |  AND NOT contains(text, 'slow')""".stripMargin,

    "q_metadata_where" ->
      "SELECT doc_id, source FROM documents WHERE lang = 'de'",

    "q_similarity_topk" ->
      """SELECT vec_id,
        |  round(list_dot_product(embedding::DOUBLE[],
        |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 4) + 0.0 AS sim
        |FROM embeddings
        |ORDER BY list_dot_product(embedding::DOUBLE[],
        |  (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) DESC, vec_id
        |LIMIT 10""".stripMargin,

    "q_filtered_topk" ->
      """SELECT vec_id, label,
        |  round(list_dot_product(embedding::DOUBLE[],
        |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 4) + 0.0 AS sim
        |FROM embeddings
        |WHERE label % 3 = 0
        |ORDER BY list_dot_product(embedding::DOUBLE[],
        |  (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) DESC, vec_id
        |LIMIT 10""".stripMargin,

    "q_similarity_range" ->
      """SELECT vec_id, label,
        |  round(list_dot_product(embedding::DOUBLE[],
        |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 4) + 0.0 AS sim
        |FROM embeddings
        |WHERE list_dot_product(embedding::DOUBLE[],
        |  (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) >= 0.25""".stripMargin,

    "q_negative_filter" ->
      """SELECT vec_id,
        |  round(list_dot_product(embedding::DOUBLE[],
        |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 4) + 0.0 AS sim
        |FROM embeddings
        |WHERE list_dot_product(embedding::DOUBLE[],
        |  (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 1)) <= 0.1
        |ORDER BY list_dot_product(embedding::DOUBLE[],
        |  (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) DESC, vec_id
        |LIMIT 10""".stripMargin,

    "q_filter_combinators" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (lang = 'en' OR lang = 'de') AND NOT contains(text, 'slow')""".stripMargin,

    "q_negative_subtract" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 0),
        |     n AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 1),
        |     sub AS (SELECT list_transform(list_zip(q.e, n.e), p -> p[1] - p[2]) AS v
        |             FROM q, n),
        |     nrm AS (SELECT list_transform(v,
        |               x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS v
        |             FROM sub)
        |SELECT e.vec_id,
        |  round(list_dot_product(e.embedding::DOUBLE[], (SELECT v FROM nrm)), 4) + 0.0 AS sim
        |FROM embeddings e
        |ORDER BY list_dot_product(e.embedding::DOUBLE[], (SELECT v FROM nrm)) DESC,
        |  e.vec_id
        |LIMIT 10""".stripMargin,

    "q_knn_join" ->
      """SELECT q.vec_id AS query_id, e.vec_id,
        |  round(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) + 0.0 AS sim
        |FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 5) q
        |QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
        |           e.vec_id) <= 3""".stripMargin,

    "q_topk_per_label" ->
      """SELECT label, vec_id,
        |  round(list_dot_product(embedding::DOUBLE[],
        |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 4) + 0.0 AS sim
        |FROM embeddings
        |QUALIFY row_number() OVER (PARTITION BY label
        |  ORDER BY list_dot_product(embedding::DOUBLE[],
        |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) DESC,
        |    vec_id) <= 3""".stripMargin,

    // Full IVF-join replay: the emb_kmeans Lloyd CTEs give corpus
    // assignment a3 and final centroids c2; d3 already holds every
    // vector's distance to c2, so the query probe set is its 2 smallest
    // (dist, cell) rows; candidates join on cell; ranking is the exact
    // integer e7 dot with (sim DESC, cid) ties.
    "q_knn_join_ivf" ->
      """WITH x AS (
        |  SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS pos,
        |         round(unnest(embedding::DOUBLE[]) * 10000000)::BIGINT AS e7
        |  FROM embeddings),
        |c0 AS (SELECT vec_id::BIGINT AS cell, pos, e7 AS c FROM x WHERE vec_id < 4),
        |d1 AS (SELECT x.vec_id, c.cell,
        |         sum((x.e7 - c.c) * (x.e7 - c.c))::BIGINT AS dist
        |       FROM x JOIN c0 c USING (pos) GROUP BY x.vec_id, c.cell),
        |a1 AS (SELECT vec_id, cell FROM d1
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1),
        |c1 AS (SELECT a.cell, x.pos, (sum(x.e7)::BIGINT // count(*)) AS c
        |       FROM x JOIN a1 a USING (vec_id) GROUP BY a.cell, x.pos),
        |d2 AS (SELECT x.vec_id, c.cell,
        |         sum((x.e7 - c.c) * (x.e7 - c.c))::BIGINT AS dist
        |       FROM x JOIN c1 c USING (pos) GROUP BY x.vec_id, c.cell),
        |a2 AS (SELECT vec_id, cell FROM d2
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1),
        |c2 AS (SELECT a.cell, x.pos, (sum(x.e7)::BIGINT // count(*)) AS c
        |       FROM x JOIN a2 a USING (vec_id) GROUP BY a.cell, x.pos),
        |d3 AS (SELECT x.vec_id, c.cell,
        |         sum((x.e7 - c.c) * (x.e7 - c.c))::BIGINT AS dist
        |       FROM x JOIN c2 c USING (pos) GROUP BY x.vec_id, c.cell),
        |a3 AS (SELECT vec_id, cell FROM d3
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1),
        |qp AS (SELECT vec_id AS qid, cell FROM d3 WHERE vec_id % 50 = 0
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) <= 2),
        |cand AS (SELECT q.qid, a.vec_id AS cid
        |         FROM qp q JOIN a3 a ON a.cell = q.cell),
        |sim AS (SELECT c.qid, c.cid, sum(xq.e7 * xc.e7)::BIGINT AS sim_e14
        |        FROM cand c
        |        JOIN x xq ON xq.vec_id = c.qid
        |        JOIN x xc ON xc.vec_id = c.cid AND xc.pos = xq.pos
        |        GROUP BY 1, 2)
        |SELECT qid AS query_id, cid AS corpus_id, sim_e14 FROM sim
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim_e14 DESC, cid) <= 5""".stripMargin,

    // Same IVF-join replay over-fetched to 7 (k + maxPositives + 1),
    // then self/positive exclusion and the final re-rank to 5 — the
    // exact contract of the over-fetch bound.
    "train_hard_negatives" ->
      """WITH x AS (
        |  SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS pos,
        |         round(unnest(embedding::DOUBLE[]) * 10000000)::BIGINT AS e7
        |  FROM embeddings),
        |c0 AS (SELECT vec_id::BIGINT AS cell, pos, e7 AS c FROM x WHERE vec_id < 4),
        |d1 AS (SELECT x.vec_id, c.cell,
        |         sum((x.e7 - c.c) * (x.e7 - c.c))::BIGINT AS dist
        |       FROM x JOIN c0 c USING (pos) GROUP BY x.vec_id, c.cell),
        |a1 AS (SELECT vec_id, cell FROM d1
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1),
        |c1 AS (SELECT a.cell, x.pos, (sum(x.e7)::BIGINT // count(*)) AS c
        |       FROM x JOIN a1 a USING (vec_id) GROUP BY a.cell, x.pos),
        |d2 AS (SELECT x.vec_id, c.cell,
        |         sum((x.e7 - c.c) * (x.e7 - c.c))::BIGINT AS dist
        |       FROM x JOIN c1 c USING (pos) GROUP BY x.vec_id, c.cell),
        |a2 AS (SELECT vec_id, cell FROM d2
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1),
        |c2 AS (SELECT a.cell, x.pos, (sum(x.e7)::BIGINT // count(*)) AS c
        |       FROM x JOIN a2 a USING (vec_id) GROUP BY a.cell, x.pos),
        |d3 AS (SELECT x.vec_id, c.cell,
        |         sum((x.e7 - c.c) * (x.e7 - c.c))::BIGINT AS dist
        |       FROM x JOIN c2 c USING (pos) GROUP BY x.vec_id, c.cell),
        |a3 AS (SELECT vec_id, cell FROM d3
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1),
        |qp AS (SELECT vec_id AS qid, cell FROM d3 WHERE vec_id % 50 = 0
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) <= 2),
        |cand AS (SELECT q.qid, a.vec_id AS cid
        |         FROM qp q JOIN a3 a ON a.cell = q.cell),
        |sim AS (SELECT c.qid, c.cid, sum(xq.e7 * xc.e7)::BIGINT AS sim_e14
        |        FROM cand c
        |        JOIN x xq ON xq.vec_id = c.qid
        |        JOIN x xc ON xc.vec_id = c.cid AND xc.pos = xq.pos
        |        GROUP BY 1, 2),
        |top AS (SELECT qid, cid, sim_e14 FROM sim
        |        QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim_e14 DESC, cid) <= 7)
        |SELECT qid AS query_id, cid AS negative_id, sim_e14
        |FROM top WHERE cid <> qid AND cid <> qid + 1
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim_e14 DESC, cid) <= 5""".stripMargin,

    "q_count" -> "SELECT count(*) AS cnt FROM documents",

    "q_get_by_id" ->
      "SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id = 42",

    "q_list_ids" -> "SELECT doc_id FROM documents",

    "q_delete_where" ->
      """SELECT doc_id FROM documents
        |WHERE NOT (lang = 'fr' OR contains(text, 'slow'))""".stripMargin,

    "q_upsert" ->
      """WITH batch AS (
        |  SELECT doc_id, upper(text) AS text FROM documents WHERE doc_id < 10),
        |unioned AS (
        |  SELECT doc_id, text, 0 AS seq FROM documents
        |  UNION ALL SELECT doc_id, text, 1 AS seq FROM batch)
        |SELECT doc_id, text FROM unioned
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) = 1""".stripMargin,

    // LSH top-k replicated in SQL: the hyperplanes are seed-deterministic,
    // so they are emitted as literals; signatures are the same sign
    // pattern, candidates the same hamming<=3 filter, ranking the same
    // (similarity desc, vec_id). Sign parity between the f32 Spark dot
    // and DuckDB's double dot holds because no |dot| sits inside f32
    // rounding error of zero on this corpus (seed-fixed, so stable).
    "q_lsh_topk" -> lshTopKOracleSql,

    "q_mmr_rerank" -> mmrOracleSql,

    "eval_ann_recall" -> annRecallOracleSql,

    "eval_ann_mrr" -> annMrrOracleSql,

    // The partitioned layout changes WHERE rows live, never what they
    // are — the oracle is the plain logical slice.
    "q_partition_pruned" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'",

    "q_distinct_types" ->
      "SELECT DISTINCT event_type FROM events",

    "q_vector_norms" ->
      """SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 4) AS nrm,
        |  abs(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) - 1.0) < 1e-6
        |    AS is_norm
        |FROM embeddings""".stripMargin,

    // `+ 0.0` normalizes IEEE -0.0 (DuckDB's round keeps the sign of a
    // tiny negative element; Spark's HALF_UP round returns +0.0 — the
    // divergence only materializes at sf0.1, r9 census).
    "q_normalize_elem" ->
      """SELECT vec_id,
        |  round(embedding[1]::DOUBLE /
        |    sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 4) + 0.0 AS e0
        |FROM embeddings""".stripMargin,

    // MaxSim replayed term by term: 8×8 sub-dot products as exact
    // integer sums, max per query part, sum of maxima, same (score
    // desc, vec_id) tie-break.
    "q_maxsim_topk" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    [round(x * 10000000)::BIGINT FOR x IN embedding::DOUBLE[]] AS e7
        |  FROM embeddings),
        |q AS (SELECT e7 AS q7 FROM e WHERE vec_id = 0),
        |g AS (SELECT unnest(generate_series(0, 7)) AS v),
        |dots AS (
        |  SELECT e.vec_id, i.v AS i, j.v AS j,
        |    sum(q.q7[i.v * 8 + w.v + 1] * e.e7[j.v * 8 + w.v + 1])::BIGINT AS dp
        |  FROM e, q, g i, g j, g w
        |  GROUP BY e.vec_id, i.v, j.v),
        |mx AS (SELECT vec_id, i, max(dp) AS m FROM dots GROUP BY vec_id, i),
        |sc AS (SELECT vec_id, sum(m)::BIGINT AS score FROM mx GROUP BY vec_id)
        |SELECT vec_id, score FROM sc
        |ORDER BY score DESC, vec_id
        |LIMIT 10""".stripMargin,

    "q_ivf_topk" ->
      """SELECT vec_id FROM embeddings
        |ORDER BY list_dot_product(embedding::DOUBLE[],
        |  (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) DESC, vec_id
        |LIMIT 10""".stripMargin,

    // BM25 replayed exactly: same tokenization, same Okapi idf with the
    // +1 floor, same parenthesization (k1 = 1.5, b = 0.75 ⇒ every derived
    // constant is written as the exact literal Spark computes), terms
    // added in the same fixed order.
    // WHERE/ORDER BY qualify sc.score: a bare `score` would bind to the
    // SELECT alias (the ROUNDED copy) in DuckDB, flipping rows at the
    // cutoff whenever two scores round equal — Spark filters/orders on
    // the unrounded value.
    "text_bm25" -> (bm25ScoredSql +
      """
        |SELECT doc_id, round(sc.score, 4) AS score FROM sc
        |WHERE sc.score > 0 ORDER BY sc.score DESC, doc_id LIMIT 20""".stripMargin),

    // The indexed probe is bit-identical to the scan-based text_bm25
    // (TermIndexSpec pins the equality), so it shares the oracle.
    "text_bm25_indexed" -> (bm25ScoredSql +
      """
        |SELECT doc_id, round(sc.score, 4) AS score FROM sc
        |WHERE sc.score > 0 ORDER BY sc.score DESC, doc_id LIMIT 20""".stripMargin),

    "search_hybrid" -> (bm25ScoredSql +
      """,
        |bm AS (SELECT doc_id, score FROM sc WHERE score > 0
        |       ORDER BY score DESC, doc_id LIMIT 30),
        |bmr AS (SELECT doc_id,
        |          row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM bm),
        |vs AS (SELECT vec_id AS doc_id,
        |         list_dot_product(embedding::DOUBLE[],
        |           (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) AS sim
        |       FROM embeddings ORDER BY sim DESC, doc_id LIMIT 30),
        |vsr AS (SELECT doc_id,
        |          row_number() OVER (ORDER BY sim DESC, doc_id) AS r FROM vs),
        |f AS (SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
        |        coalesce(1.0 / (60.0 + b.r), 0) + coalesce(1.0 / (60.0 + v.r), 0) AS rrf
        |      FROM bmr b FULL OUTER JOIN vsr v ON b.doc_id = v.doc_id)
        |SELECT doc_id, round(f.rrf, 4) AS rrf FROM f
        |ORDER BY f.rrf DESC, doc_id LIMIT 15""".stripMargin),

    // Int8 quantization is exact integer arithmetic after a shared
    // rounding convention (HALF_UP == round-away-from-zero in both
    // engines), so the replay is bit-exact with no accumulation-order
    // caveats: scale = max|x|/127, q = round(x/scale), score =
    // (Σ qa·qb)·scale_a·scale_q.
    "q_quantized_topk" -> quantizedTopKSql,

    // the packed byte-slab tier shares the quantization AND the scoring
    // arithmetic with the DataFrame tier (bit-equal by construction,
    // Int8VectorIndexSpec) — same oracle
    "q_quantized_topk_packed" -> quantizedTopKSql,

    // Per-bit sign disagreement count == popcount(sigA xor sigQ); the
    // float sign test (x > 0) is exact in both engines.
    "q_hamming_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  list_sum([CASE WHEN (e.embedding[i] > 0) <> (q.qe[i] > 0)
        |                 THEN 1 ELSE 0 END
        |            FOR i IN range(1, len(e.embedding) + 1)])::BIGINT AS hamming
        |FROM embeddings e, q
        |ORDER BY hamming, e.vec_id
        |LIMIT 10""".stripMargin,

    // IVF-PQ replayed with literal cell centroids + codebook: argmax
    // cell dot (list_position of list_max == the kernel's strict-> scan),
    // double residual, PQ encode of the residual, score = q·cell + ADC.
    "q_ivfpq_topk" -> ivfPqTopKOracleSql,

    // PQ replayed with literal centroids (cf. the LSH hyperplane oracle):
    // same double squared-L2 encode with first-minimum tie-break
    // (list_position of list_min == the kernel's strict-< scan), same
    // per-subspace dot-product terms added in subspace order.
    "q_pq_topk" -> pqTopKOracleSql

  )

  /** The 12×64 seed-42 hyperplane signature as a DuckDB expression —
    * the ONE literal-generation block shared by the q_lsh_topk /
    * eval_ann_recall / eval_ann_mrr oracles. Three hand-kept copies of
    * this plumbing must stay byte-consistent with ONE Spark kernel
    * (VectorSearch.signatureOf); a partial edit would silently grade an
    * index against different hyperplanes than it probes with. */
  private lazy val lshBitTerms: String =
    graft.ops.VectorSearch.randomPlanes(12, 64, 42L).zipWithIndex.map { case (p, i) =>
      val lit = p.map(x => x.toDouble.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(embedding::DOUBLE[], $lit::DOUBLE[]) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n      + ")

  /** DuckDB oracle for q_lsh_topk, generated from the same deterministic
    * hyperplanes the Spark side uses (numPlanes=12, dim=64, seed=42). */
  private lazy val lshTopKOracleSql: String = {
    s"""WITH sig AS (
       |  SELECT vec_id, $lshBitTerms AS s
       |  FROM embeddings),
       |q AS (SELECT s AS qs FROM sig WHERE vec_id = 0)
       |SELECT e.vec_id
       |FROM embeddings e JOIN sig USING (vec_id), q
       |WHERE bit_count(xor(sig.s, q.qs)) <= 3
       |ORDER BY list_dot_product(e.embedding::DOUBLE[],
       |  (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) DESC, e.vec_id
       |LIMIT 10""".stripMargin
  }

  /** DuckDB oracle for eval_ann_recall: the same 12 hyperplane signs,
    * hamming ≤ 3 candidate filter, exact e7-integer dots on BOTH the
    * ground-truth and candidate rankings (sums ≤ 64·1e14 ≪ 2^63), and
    * the integer recall quotient. */
  private lazy val annRecallOracleSql: String = {
    s"""WITH x AS (
       |  SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS pos,
       |         round(unnest(embedding::DOUBLE[]) * 10000000)::BIGINT AS e7
       |  FROM embeddings),
       |sig AS (SELECT vec_id, $lshBitTerms AS s FROM embeddings),
       |dots AS (
       |  SELECT xq.vec_id AS query_id, xc.vec_id AS cid,
       |         sum(xq.e7 * xc.e7)::BIGINT AS sim
       |  FROM x xq JOIN x xc USING (pos)
       |  WHERE xq.vec_id IN (SELECT vec_id FROM embeddings
       |                      WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 16)
       |    AND xq.vec_id <> xc.vec_id -- self-match excluded (see the Spark side)
       |  GROUP BY xq.vec_id, xc.vec_id),
       |exact AS (
       |  SELECT query_id, cid FROM dots
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |                             ORDER BY sim DESC, cid) <= 10),
       |approx AS (
       |  SELECT d.query_id, d.cid FROM dots d
       |  JOIN sig cs ON cs.vec_id = d.cid
       |  JOIN sig qs ON qs.vec_id = d.query_id
       |  WHERE bit_count(xor(cs.s, qs.s)) <= 3
       |  QUALIFY row_number() OVER (PARTITION BY d.query_id
       |                             ORDER BY d.sim DESC, d.cid) <= 10)
       |SELECT e.query_id, count(*)::BIGINT AS n_exact,
       |       count(a.cid)::BIGINT AS hits,
       |       ((count(a.cid)::HUGEINT * 1000000) // count(*))::BIGINT AS recall_e6
       |FROM exact e LEFT JOIN approx a
       |  ON a.query_id = e.query_id AND a.cid = e.cid
       |GROUP BY e.query_id
       |ORDER BY e.query_id""".stripMargin
  }

  /** DuckDB oracle for eval_ann_mrr: same signatures/dots as the recall
    * oracle; rank replayed as 1 + count of strictly-better candidates
    * under (sim DESC, cid ASC). */
  private lazy val annMrrOracleSql: String = {
    s"""WITH x AS (
       |  SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS pos,
       |         round(unnest(embedding::DOUBLE[]) * 10000000)::BIGINT AS e7
       |  FROM embeddings),
       |sig AS (SELECT vec_id, $lshBitTerms AS s FROM embeddings),
       |dots AS (
       |  SELECT xq.vec_id AS query_id, xc.vec_id AS cid,
       |         sum(xq.e7 * xc.e7)::BIGINT AS sim
       |  FROM x xq JOIN x xc USING (pos)
       |  WHERE xq.vec_id IN (SELECT vec_id FROM embeddings
       |                      WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 16)
       |    AND xq.vec_id <> xc.vec_id -- self-match excluded (see the Spark side)
       |  GROUP BY xq.vec_id, xc.vec_id),
       |top1 AS (
       |  SELECT query_id, cid AS c1, sim AS s1 FROM dots
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |                             ORDER BY sim DESC, cid) = 1),
       |cand AS (
       |  SELECT d.* FROM dots d
       |  JOIN sig cs ON cs.vec_id = d.cid
       |  JOIN sig qs ON qs.vec_id = d.query_id
       |  WHERE bit_count(xor(cs.s, qs.s)) <= 3),
       |r AS (
       |  SELECT t.query_id,
       |    sum(CASE WHEN c.sim > t.s1 OR (c.sim = t.s1 AND c.cid < t.c1)
       |             THEN 1 ELSE 0 END)::BIGINT AS better,
       |    coalesce(max(CASE WHEN c.cid = t.c1 THEN 1 ELSE 0 END), 0)::BIGINT AS found
       |  FROM top1 t LEFT JOIN cand c USING (query_id)
       |  GROUP BY t.query_id)
       |SELECT query_id, found,
       |  (CASE WHEN found = 1 THEN better + 1 ELSE 0 END)::BIGINT AS rank,
       |  (CASE WHEN found = 1 THEN 1000000 // (better + 1) ELSE 0 END)::BIGINT AS rr_e6
       |FROM r
       |ORDER BY query_id""".stripMargin
  }

  /** DuckDB oracle for q_mmr_rerank: top-30 candidates by exact e7 dot,
    * 30×30 pairwise integer dots, then the k=10 greedy MMR selection
    * UNROLLED as 10 CTE stages — stage i picks the argmax of
    * `7·rel − 3·maxDivToSelected` (λ = 7/10 as integers; ties by id
    * ascending), s_i accumulates the selection. Every CTE is
    * MATERIALIZED: p_i references s_{i−1} twice (exclusion + the
    * correlated max-div subquery), so un-materialized CTEs would inline
    * the chain exponentially (2^10 scans of the parquet). */
  private lazy val mmrOracleSql: String = {
    val stages = (2 to 10).map { i =>
      val prev = s"s${i - 1}"
      s"""p$i AS MATERIALIZED (
         |  SELECT c.vec_id, c.rel, $i AS r FROM cand c
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)
         |  ORDER BY (7 * c.rel - 3 * (SELECT max(p.s) FROM pair p
         |    JOIN $prev s ON p.ib = s.vec_id WHERE p.ia = c.vec_id))
         |    DESC, c.vec_id
         |  LIMIT 1),
         |s$i AS MATERIALIZED (SELECT * FROM $prev UNION ALL SELECT * FROM p$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH x AS MATERIALIZED (
       |  SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS pos,
       |         round(unnest(embedding::DOUBLE[]) * 10000000)::BIGINT AS e7
       |  FROM embeddings),
       |rel AS MATERIALIZED (
       |  SELECT xe.vec_id, sum(xe.e7 * xq.e7)::BIGINT AS rel
       |  FROM x xe JOIN x xq ON xq.vec_id = 0 AND xq.pos = xe.pos
       |  GROUP BY 1),
       |cand AS MATERIALIZED (
       |  SELECT vec_id, rel FROM rel ORDER BY rel DESC, vec_id LIMIT 30),
       |pair AS MATERIALIZED (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib, sum(xa.e7 * xb.e7)::BIGINT AS s
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
       |  JOIN x xa ON xa.vec_id = a.vec_id
       |  JOIN x xb ON xb.vec_id = b.vec_id AND xb.pos = xa.pos
       |  GROUP BY 1, 2),
       |p1 AS MATERIALIZED (
       |  SELECT vec_id, rel, 1 AS r FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
       |s1 AS MATERIALIZED (SELECT * FROM p1),
       |$stages
       |SELECT vec_id, rel AS rel_e14, r::BIGINT AS mmr_rank FROM s10""".stripMargin
  }

  /** Deterministic cell centroids for the q_ivfpq_topk gate (seed 11,
    * nlist=4, d=64) — shared by the Spark side and the generated oracle. */
  private lazy val gateIvfPqCells: Array[Array[Double]] = {
    val rnd = new java.util.Random(11L)
    Array.fill(4)(Array.fill(64)(rnd.nextDouble() * 2 - 1))
  }

  /** The gate PQ codebook (dim=64, m=8, k=16, seed=7) and its DuckDB
    * literal plumbing, shared by the q_pq_topk / q_ivfpq_topk oracles —
    * two hand-kept copies of the encode/ADC expression builders had to
    * stay byte-consistent with ONE Spark kernel (a partial edit would
    * silently score one entry against a different codebook than the
    * index under test). `input` is the vector column being encoded
    * ("v" for raw PQ, "r" for the IVF-PQ residual). */
  private lazy val gatePqCodebook =
    graft.ops.Pq.randomCodebook(dim = 64, m = 8, k = 16, seed = 7L)
  private def pqEncodeSql(input: String): (String, String) = {
    val cb = gatePqCodebook
    def cbLit(j: Int): String = (0 until cb.k).map { c =>
      cb.centroid(j, c).mkString("[", ", ", "]")
    }.mkString("[", ", ", "]")
    def dists(j: Int): String = {
      val o = j * cb.subDim
      s"[ list_sum([ ($input[$o+i]-c[i])*($input[$o+i]-c[i]) " +
        s"FOR i IN range(1,${cb.subDim + 1}) ]) FOR c IN ${cbLit(j)} ]"
    }
    val codeCols = (0 until cb.m).map(j =>
      s"list_position(${dists(j)}, list_min(${dists(j)})) AS c$j").mkString(",\n    ")
    val terms = (0 until cb.m).map { j =>
      val o = j * cb.subDim
      s"list_dot_product(qv[${o + 1}:${o + cb.subDim}], (${cbLit(j)})[c$j])"
    }.mkString("\n    + ")
    (codeCols, terms)
  }

  /** DuckDB oracle for q_pq_topk, generated from the same deterministic
    * codebook the Spark side uses (dim=64, m=8, k=16, seed=7). */
  private lazy val pqTopKOracleSql: String = {
    val (codeCols, terms) = pqEncodeSql("v")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |enc AS (
       |  SELECT vec_id,
       |    $codeCols
       |  FROM e),
       |sc AS (SELECT vec_id, $terms AS qsim FROM enc, q)
       |SELECT vec_id, round(sc.qsim, 4) AS qsim FROM sc
       |ORDER BY sc.qsim DESC, sc.vec_id LIMIT 10""".stripMargin
  }

  /** DuckDB oracle for q_ivfpq_topk: same seeded cells/codebook as the
    * Spark side, encode and scoring replayed with literal parameters. */
  private lazy val ivfPqTopKOracleSql: String = {
    val cellsLit = gateIvfPqCells.map(_.mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    val cellDots = gateIvfPqCells.indices.map(c =>
      s"list_dot_product(v, ($cellsLit)[${c + 1}])").mkString("[", ",\n      ", "]")
    val (codeCols, terms) = pqEncodeSql("r")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |asg AS (
       |  SELECT vec_id, v,
       |    list_position($cellDots,
       |      list_max($cellDots)) AS cell
       |  FROM e),
       |res AS (
       |  SELECT vec_id, cell,
       |    [ v[i] - (($cellsLit)[cell])[i] FOR i IN range(1, ${gatePqCodebook.dim + 1}) ] AS r
       |  FROM asg),
       |enc AS (
       |  SELECT vec_id, cell,
       |    $codeCols
       |  FROM res),
       |sc AS (
       |  SELECT vec_id,
       |    list_dot_product(qv, ($cellsLit)[cell])
       |    + $terms AS qsim
       |  FROM enc, q)
       |SELECT vec_id, round(sc.qsim, 4) AS qsim FROM sc
       |ORDER BY sc.qsim DESC, sc.vec_id LIMIT 10""".stripMargin
  }

  /** Shared BM25 scoring CTE chain (ends at `sc(doc_id, score)`) for the
    * text_bm25 / search_hybrid oracles — k1 = 1.5, b = 0.75, terms
    * (vector, query, spark) in fixed order, arithmetic parenthesized
    * exactly like `KeywordSearch.bm25Score`. */
  // int8 quantized top-k replay, shared by the DataFrame tier and the
  // packed byte-slab tier (identical outputs by construction)
  private val quantizedTopKSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |s AS (SELECT vec_id, v,
      |        list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc FROM e),
      |qz AS (SELECT vec_id, sc,
      |         CASE WHEN sc = 0 THEN list_transform(v, x -> 0.0)
      |              ELSE list_transform(v, x -> round(x / sc)) END AS qv
      |       FROM s),
      |q AS (SELECT sc AS qsc, qv AS qqv FROM qz WHERE vec_id = 0)
      |SELECT vec_id,
      |  round(list_dot_product(qv, (SELECT qqv FROM q)) * sc * (SELECT qsc FROM q), 4) + 0.0 AS qsim
      |FROM qz
      |ORDER BY list_dot_product(qv, (SELECT qqv FROM q)) * sc * (SELECT qsc FROM q) DESC, vec_id
      |LIMIT 10""".stripMargin

  private val bm25ScoredSql: String =
    """WITH tf AS (
      |  SELECT doc_id,
      |    len(string_split(lower(text), ' '))::DOUBLE AS dl,
      |    len(list_filter(string_split(lower(text), ' '), t -> t = 'vector'))::DOUBLE AS tf1,
      |    len(list_filter(string_split(lower(text), ' '), t -> t = 'query'))::DOUBLE AS tf2,
      |    len(list_filter(string_split(lower(text), ' '), t -> t = 'spark'))::DOUBLE AS tf3
      |  FROM documents),
      |st AS (
      |  SELECT count(*)::BIGINT AS n,
      |    sum(len(string_split(lower(text), ' ')))::DOUBLE / count(*) AS avgdl,
      |    sum(CASE WHEN list_contains(string_split(lower(text), ' '), 'vector')
      |             THEN 1 ELSE 0 END)::BIGINT AS df1,
      |    sum(CASE WHEN list_contains(string_split(lower(text), ' '), 'query')
      |             THEN 1 ELSE 0 END)::BIGINT AS df2,
      |    sum(CASE WHEN list_contains(string_split(lower(text), ' '), 'spark')
      |             THEN 1 ELSE 0 END)::BIGINT AS df3
      |  FROM documents),
      |sc AS (
      |  SELECT doc_id,
      |    ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.5) / (tf1 + 1.5 * (0.25 + 0.75 * dl / avgdl))
      |    + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.5) / (tf2 + 1.5 * (0.25 + 0.75 * dl / avgdl))
      |    + ln(1 + (n - df3 + 0.5) / (df3 + 0.5)) * (tf3 * 2.5) / (tf3 + 1.5 * (0.25 + 0.75 * dl / avgdl))
      |    AS score
      |  FROM tf, st)""".stripMargin
}

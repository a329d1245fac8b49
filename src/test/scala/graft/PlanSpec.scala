package graft

/**
 * Physical-plan audit: pins the properties that make these queries scale —
 * parquet predicate pushdown, column pruning, broadcast joins, shuffle
 * counts, TakeOrderedAndProject top-k. A regression here is a performance
 * bug even when results stay correct.
 */
class PlanSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = withLogLevel {
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
  }

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  test("filter predicates are pushed to the parquet scan") {
    val p = plan("q_filter_contains")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("EqualTo(lang,en)"), s"lang filter must push down:\n$p")
    assert(p.contains("StringContains(text,filter)"),
      s"contains must push down:\n$p")
  }

  test("point lookup pushes the id predicate") {
    val p = plan("q_get_by_id")
    assert(p.contains("EqualTo(doc_id,42)"), p)
  }

  test("projection prunes the parquet ReadSchema to selected columns") {
    val p = plan("q_list_ids")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      s"scan must read ONLY doc_id:\n$p")
    val p2 = plan("q_similarity_topk")
    assert(!p2.contains("label:int"),
      s"top-k over embeddings must not read the label column:\n$p2")
  }

  test("similarity top-k is TakeOrderedAndProject with zero shuffles") {
    val p = plan("q_similarity_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), s"no shuffle expected:\n$p")
  }

  test("Q5 shape: dims broadcast, date filter pushed to the orders scan") {
    val p = plan("join_q5_shape")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"no unkeyed join allowed:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"date range must reach the parquet scan:\n$p")
  }

  test("heavy hitters is ONE partial+final sketch aggregate") {
    val p = plan("profile_heavy_hitters")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("mg_sketch"), p)
    assert(countOccurrences(p, "Exchange") == 1,
      s"the only exchange must carry capacity-bounded buffers:\n$p")
  }

  test("windowed KMV distinct shuffles ONCE, on the window key only") {
    // the exact twin pays two exchanges (dedup level on (w, key), count
    // level on w); the sketch twin's whole point is ONE exchange whose
    // rows are ≤ k-long KMV buffers per (window, partition) — the key
    // column itself must never reach a shuffle
    val p = plan("events_window_distinct_approx")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("kmv_distinct"), p)
    assert(countOccurrences(p, "Exchange") == 1,
      s"one bounded-buffer exchange expected:\n$p")
    val exact = plan("events_window_distinct")
    assert(countOccurrences(exact, "Exchange") == 2,
      s"exact twin keeps the two-level shape:\n$exact")
  }

  test("KMV profile stays one corpus pass with the hash chain in the scan projection") {
    val p = plan("profile_stats_approx")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("kmv_distinct"), p)
    // one corpus scan; the single exchange carries four ≤ 8 KiB sketch
    // buffers + scalar partials per map task, never rows
    assert(p.linesIterator.count(_.contains("Scan")) <= 1,
      s"profile must be one pass:\n$p")
    assert(countOccurrences(p, "Exchange") == 1, p)
    // the md5 kernel runs codegen'd below the aggregate, not interpreted
    // per row inside it (TypedImperativeAggregate children are interpreted)
    assert(p.contains("kmv_hash60"), p)
  }

  test("interleave joins its driver verdicts by broadcast; no sort-merge") {
    val p = plan("split_interleave")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"bucket offsets and source indexes must broadcast:\n$p")
    assert(p.contains("Window"), p)
    // the projection never touches text: only ids, source, md5 hashes
    assert(!p.contains("text#"), s"text must not enter the plan:\n$p")
  }

  test("tfidf reuses the materialized tf pairs — text scans once") {
    val p = plan("text_tfidf")
    // both the df aggregate and the scoring join must read the
    // checkpointed tf RDD; the only parquet scan left is the doc COUNT
    assert(p.contains("ExistingRDD"), s"tf must be checkpointed:\n$p")
    assert(countOccurrences(p, "Scan parquet") <= 1,
      s"text must scan at most once (the doc-count):\n$p")
  }

  test("filtered top-k keeps the bounded-sort shape and scores only survivors") {
    val p = plan("q_filtered_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), s"no shuffle expected:\n$p")
    // the label predicate must sit below the scoring projection: the
    // parquet reader surfaces it as a pushed IsNotNull + the filter
    // evaluates before the dot product in the same codegen stage
    assert(p.contains("IsNotNull(label)"),
      s"label predicate must reach the scan:\n$p")
  }

  test("customer join broadcasts the small dimension side") {
    val p = plan("join_top_customers")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("knn join broadcasts the query side (corpus never shuffles for the join)") {
    val p = plan("q_knn_join")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("knn join pre-reduces per partition — no window over the cross product") {
    val p = plan("q_knn_join")
    assert(!p.contains("Window"),
      s"per-query top-k must be a bounded-heap aggregate, not a window:\n$p")
    // partial (map-side) + final ObjectHashAggregate around the exchange:
    // the shuffle input is ≤ k rows per query per partition, not the corpus
    assert(countOccurrences(p, "ObjectHashAggregate") >= 2,
      s"expected partial+final topk_rows aggregate:\n$p")
    assert(p.contains("partial_topk_rows"),
      s"map-side partial aggregation must bound the exchange input:\n$p")
  }

  test("grouped top-k pre-reduces per partition — no full window shuffle on the group key") {
    val p = plan("q_topk_per_label")
    assert(!p.contains("Window"),
      s"grouped top-k must be a bounded-heap aggregate, not a window:\n$p")
    assert(countOccurrences(p, "ObjectHashAggregate") >= 2, p)
    assert(p.contains("partial_topk_rows"), p)
  }

  test("customer revenue aggregates BELOW the order join (partial per-order rollup)") {
    val p = plan("join_top_customers")
    // the lineitem-side aggregate must appear under the join: partial+final
    // HashAggregate pairs for BOTH rollups = at least 4 HashAggregates
    assert(countOccurrences(p, "HashAggregate") >= 4,
      s"expected per-order pre-aggregation below the join:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"customer dim must broadcast:\n$p")
  }

  test("embedding LSH dedup plans a bucket equi-join, not a cartesian product") {
    val p = plan("dedup_embedding_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must be a banded equi-join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("covariance moments: ONE partial+final aggregate, no explode-join") {
    val p = plan("emb_covariance")
    assert(p.contains("gram_outer_sum128"), p)
    // partial (map-side) + final ObjectHashAggregate — the only exchange
    // carries the fixed gram buffer, never exploded (pos, value) rows
    assert(countOccurrences(p, "ObjectHashAggregate") >= 2, p)
    // the ONLY exchange is the aggregate's buffer merge (count-class
    // volume); the row explode happens after it, on t = m(m+1)/2 rows
    assert(countOccurrences(p, "Exchange") === 1, p)
    assert(!p.contains("Join"), s"no join in the moments pass:\n$p")
  }

  test("semantic dedup: salted per-cell equi-join, exact kernel in the condition") {
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"within-cell pairs must come from a (cell, salt) equi-join:\n$p")
    assert(p.contains("dense_cos_ge"),
      s"the threshold decision must be the kernel predicate in the join:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("split assignment is map-only — no shuffle, no sampling pass") {
    val p = plan("split_assign")
    assert(!p.contains("Exchange"), s"splits must be a pure projection:\n$p")
    assert(!p.contains("Sample"), p)
  }

  test("chunking is map-only (transform+slice inside the scan)") {
    val p = plan("text_chunks")
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
  }

  test("contamination never shuffles text — only 8-byte gram hashes") {
    val p = plan("dedup_contamination")
    // the join and aggregates key on the hash column; the text column
    // must not survive past the scan projections
    assert(p.contains("left_semi") || p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("benchmark leaks broadcast the test grams — train side never shuffles rows") {
    val p = plan("dedup_leaks")
    assert(p.contains("BroadcastHashJoin"), s"test grams must broadcast:\n$p")
    // exactly two hash exchanges: the TEST-side gram distinct (tiny by
    // assumption) and the per-train-doc aggregate rows; the train gram
    // stream itself stays inside the scan stage via the broadcast probe
    assert(countOccurrences(p, "Exchange hashpartitioning") <= 2,
      s"train grams must not shuffle:\n$p")
  }

  test("exact dedup is a single-shuffle hash aggregate") {
    val p = plan("dedup_exact")
    assert(p.contains("HashAggregate"), p)
    // partial + final aggregate around exactly one exchange
    assert(countOccurrences(p, "Exchange") <= 2, // AQE may show reused/shuffle read
      s"dedup_exact should shuffle once:\n$p")
  }

  test("downsampling is a map-only pushed filter — no shuffle, no sampling") {
    val p = plan("split_downsample")
    assert(!p.contains("Exchange"), s"downsample must be a pure filter:\n$p")
    assert(!p.contains("Sample"), p)
  }

  test("vocabulary is partial+final aggregate with bounded top-k (no full sort)") {
    val p = plan("text_vocab")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must be bounded:\n$p")
    assert(!p.contains("Window"), p)
    assert(countOccurrences(p, "HashAggregate") >= 2,
      s"expected map-side partial count:\n$p")
  }

  test("minhash signature computes without exploding tokens (no pre-band shuffle)") {
    val sig = graft.ops.Dedup.minhashCandidates(
      spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id")
    val p = sig.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("generate explode(split"),
      s"signatures must be per-row, not exploded tokens:\n$p")
  }

  test("whole-stage codegen covers the similarity scan") {
    // "*(N)" prefixes mark operators fused into a WholeStageCodegen stage
    val p = plan("q_similarity_topk")
    assert(p.contains("*(1) Project") || p.contains("WholeStageCodegen"), p)
    assert(p.contains("ColumnarToRow"), p)
  }

  test("BM25 scoring is in-scan: no token explode, no join, bounded top-k") {
    val p = plan("text_bm25")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must be bounded:\n$p")
    assert(!p.contains("Generate"), s"tf must come from in-scan filters, " +
      s"not an exploded token table:\n$p")
    assert(!p.contains("Join"), s"BM25 over literal terms needs no join:\n$p")
  }

  test("quantized top-k is a scan + bounded top-k (no shuffle beyond merge)") {
    val p = plan("q_quantized_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("sliding windows expand rows map-side, then partial+final aggregate") {
    val p = plan("events_sliding_agg")
    // row amplification (width/slide = 2×) happens in the scan stage via
    // Expand/Generate, followed by a map-side partial aggregate — never a
    // corpus join or per-window shuffle
    assert(p.contains("Expand") || p.contains("Generate"), p)
    assert(countOccurrences(p, "HashAggregate") >= 2,
      s"expected partial+final aggregate:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("duplicated-span profile shuffles gram hashes, never text") {
    val p = plan("dedup_spans")
    assert(p.contains("left_semi") || p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    // every exchange keys on the 8-byte gram hash or the doc id — the
    // text column must not appear in any shuffle partitioning
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("text#")),
      s"gram/doc shuffles only:\n$p")
  }

  test("MaxSim late interaction is a pure scan + bounded top-k") {
    val p = plan("q_maxsim_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"the 8x8 sub-dot scoring must stay in the scan stage:\n$p")
  }

  test("random projection is map-only (no shuffle, pruned scan)") {
    val p = plan("emb_random_projection")
    assert(!p.contains("Exchange"), s"projection must not shuffle:\n$p")
    assert(!p.contains("label:int"), s"label column must be pruned:\n$p")
  }

  test("z-order key is map-only over a two-column pruned scan") {
    val p = plan("layout_zorder")
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
    assert(!p.contains("props"), s"unused event columns must be pruned:\n$p")
  }

  test("k-means assignment adds no shuffle beyond the final-round scan") {
    // fitAssign's OUTPUT plan is the assignment pass: distances to k
    // literal centroids computed in-scan, no exchange at all
    val p = plan("emb_kmeans")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"assignment must be map-only:\n$p")
  }

  test("pagerank rounds shuffle ranks and edge endpoints, never wide rows") {
    val p = plan("graph_pagerank")
    // 3 rounds × (contrib join + in-sum aggregate) — bounded exchange
    // count, no cartesian, no broadcast of the full edge list needed
    assert(!p.contains("CartesianProduct"), p)
    assert(countOccurrences(p, "HashAggregate") >= 2, p)
  }

  test("gopher and c4 rules are map-only single passes") {
    for (name <- Seq("text_gopher_rules", "text_c4_rules")) {
      val p = plan(name)
      assert(!p.contains("Exchange") && !p.contains("Join"),
        s"$name must be one map-only pass:\n$p")
    }
  }

  test("top n-gram repetition: per-doc kernel, zero exchanges, no window, no join") {
    val p = plan("text_top_ngram")
    // per-DOCUMENT statistic computed per document: one codegen
    // projection calling the kernel once per (doc, n) — the only
    // Generate is the 3-element ns explode; nothing shuffles
    assert(p.contains("top_ngram_stats"),
      s"per-row kernel must be in the plan:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Window")
      && !p.contains("Join") && !p.contains("Aggregate"),
      s"must be one map-only pass:\n$p")
  }

  test("duplicate n-gram coverage: per-doc kernel, zero exchanges") {
    val p = plan("text_dup_ngrams")
    assert(p.contains("dup_ngram_stats"),
      s"per-row kernel must be in the plan:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Window")
      && !p.contains("Join") && !p.contains("Aggregate"),
      s"must be one map-only pass:\n$p")
  }

  test("paragraph dedup shuffles digests, never paragraph bodies") {
    val p = plan("dedup_paragraphs")
    assert(!p.contains("CartesianProduct"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("para#")),
      s"digest/doc shuffles only:\n$p")
  }

  test("all-pairs cosine, degenerate vocab: dense nested-loop tier, kernel in the join condition") {
    // the gate corpus has a 31-word vocabulary → the operator must
    // detect the degeneracy and take the broadcast nested-loop tier:
    // pairs are evaluated in-stream by the exact kernel, never
    // materialized as candidate join output
    val p = plan("dedup_cosine_pairs")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"degenerate vocab must select the dense tier:\n$p")
    assert(p.contains("packed_bag_cos_ge"),
      s"exact threshold kernel must be the join condition:\n$p")
    assert(p.contains("packed_bag_dot"),
      s"codegen merge-dot kernel must be in the output projection:\n$p")
    // no candidate-set machinery on this tier
    assert(!p.contains("first_common_long") && !p.contains("Window"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(!_.contains("text#")),
      s"bag/id shuffles only, never text:\n$p")
  }

  test("all-pairs cosine, prefix tier: candidate joins key on token/ids, text never shuffles") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val p = withLogLevel {
      graft.ops.Dedup.cosineCountPairs(docs, "text", "doc_id", 0.9, 0L, 0L)
        .queryExecution.executedPlan.toString
    }
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("text#")),
      s"token/id shuffles only:\n$p")
    // verification: ONE kernel predicate per candidate (merge dot +
    // exact threshold inside the join condition), survivors recompute
    // the dot for the output projection; emit-once guard in the
    // candidate self-join condition
    assert(p.contains("packed_bag_cos_ge"),
      s"single-eval verify predicate must be in the plan:\n$p")
    assert(p.contains("packed_bag_dot"),
      s"codegen merge-dot kernel must be in the plan:\n$p")
    assert(p.contains("first_common_long"),
      s"emit-once candidate guard must be in the join condition:\n$p")
  }

  test("containment, degenerate vocab: dense nested-loop tier, kernel in the condition") {
    // the gate corpus has the 31-word vocabulary, so dedup_subsets takes
    // the dense tier: zero candidate materialization, the exact integer
    // containment test INSIDE the broadcast nested-loop condition
    val p = plan("dedup_subsets")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"degenerate vocab must take the dense tier:\n$p")
    assert(p.contains("packed_bag_dot"),
      s"intersection must be the sorted-merge kernel:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"dense tier must not materialize candidates:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(!_.contains("text#")),
      s"bag/id shuffles only, never text:\n$p")
  }

  test("containment, prefix tier: broadcast bag probes + merge kernel, no token re-explode") {
    // path-forced prefix tier (denseMaxVocab = 0) on the same corpus:
    // the bag side broadcasts (the frame is doc-sized), so candidates
    // stream map-side through both probes — the pre-rewrite
    // candidate ⋈ index ⋈ index shape materialized |cand|·|A| rows
    // into a hash aggregate and OOM'd at 50k docs
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = withLogLevel {
      graft.ops.Dedup.containmentPairs(docs, "text", "doc_id", 9L, 10L,
          denseMaxVocab = 0L, denseMaxDocs = 0L)
        .queryExecution.executedPlan.toString
    }
    assert(p.contains("BroadcastHashJoin"),
      s"bag probes must broadcast:\n$p")
    assert(p.contains("packed_bag_dot"),
      s"intersection must be the sorted-merge kernel:\n$p")
    // the only aggregate below the result projection is the candidate
    // distinct (partial+final) — no per-candidate token-row aggregate.
    // (Upstream tok-keyed exchanges sit behind localCheckpoint barriers,
    // so this inspects the post-checkpoint plan — the rewritten stages.)
    assert(countOccurrences(p, "HashAggregate") <= 4,
      s"verify must not aggregate per-candidate token rows:\n$p")
  }
}

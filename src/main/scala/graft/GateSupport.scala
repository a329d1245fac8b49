package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Shared plumbing for the SparkEntry gate domains: table readers, the
 * per-data-dir index/state caches, and the stopword list every text
 * gate and oracle shares. Package-private — the only public contract
 * stays [[SparkEntry]].
 */
private[graft] object GateSupport {

  private[graft] def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Per-data-dir cache for index state whose value holds SESSION-BOUND
    * plans — persisted DataFrames, checkpointed RDD blocks. Keyed by dir
    * but validated against the calling session: a value built under a
    * session that was later stopped and replaced (test suites
    * stop/recreate sessions within one JVM) is a plan referencing dead
    * state, so `get` rebuilds and replaces it instead of handing it out.
    * The stale value's blocks died with its session — no unpersist owed.
    * If the displaced value's session is somehow still ACTIVE (two live
    * sessions in one JVM alternating over a dir), its blocks would leak,
    * so `dispose` best-effort-releases it before the replacement.
    * Session-FREE values (collected rows, plain arrays, paths) keep
    * using dir-keyed maps directly. */
  private[graft] final class SessionCache[V](dispose: V => Unit = (_: V) => ()) {
    // The map stores a LAZY cell and the (possibly multi-second Spark)
    // build runs when the cell is forced — OUTSIDE the ConcurrentHashMap
    // bin lock. Building inside compute() violated CHM's short-
    // computation contract: an unrelated key hash-colliding into the
    // same bin blocked for the whole index build, and a build that
    // re-entered the same map would throw IllegalStateException
    // ("Recursive update"). The lazy val gives per-key once semantics.
    private final class Cell(val s: SparkSession, build: () => V) {
      @volatile private var computed = false
      lazy val value: V = { val v = build(); computed = true; v }
      def valueIfComputed: Option[V] = if (computed) Some(value) else None
    }
    private val m = new java.util.concurrent.ConcurrentHashMap[String, Cell]()
    def get(s: SparkSession, dir: String)(build: => V): V = {
      var displaced: Cell = null
      val cell = m.compute(dir, (_, old) => {
        if (old != null && (old.s eq s)) old
        else {
          if (old != null) displaced = old
          new Cell(s, () => build)
        }
      })
      // dispose the displaced value outside the lock, and only if its
      // build actually completed (forcing it here just to dispose would
      // run the stale build); an in-flight displaced build leaks its
      // blocks — the pre-existing two-live-sessions caveat
      if (displaced != null && !displaced.s.sparkContext.isStopped)
        displaced.valueIfComputed.foreach(v =>
          try dispose(v) catch { case _: Throwable => () })
      cell.value
    }
    def foreachValue(f: V => Unit): Unit =
      m.forEach((_, c) => c.valueIfComputed.foreach(f))
    def clear(): Unit = m.clear()
    def size(): Int = m.size()
    def isEmpty: Boolean = m.isEmpty
  }

  /** computeIfAbsent with the build OUTSIDE the bin lock (same rationale
    * as [[SessionCache]]): the map holds once-forced lazy cells. */
  private[graft] final class Memo[V](build: () => V) { lazy val value: V = build() }
  private def memoized[K, V](
      m: java.util.concurrent.ConcurrentHashMap[K, Memo[V]], k: K)(build: => V): V =
    m.computeIfAbsent(k, _ => new Memo(() => build)).value

  // ANN indexes built once per data dir: the whole point of an index is
  // that the signature / centroid-assignment pass is paid once and probes
  // reuse it — the bench's timed pass (after warmup) measures the probe,
  // which is what a repeated-query user experiences. The LSH/IVF/term/
  // graph values hold session-bound frames → SessionCache.
  private[graft] val pcaCache =
    new java.util.concurrent.ConcurrentHashMap[String, Memo[graft.ops.Pca.Model]]()
  private[graft] def pcaModel(dir: String)(build: => graft.ops.Pca.Model): graft.ops.Pca.Model =
    memoized(pcaCache, dir)(build)
  private[graft] val lshCache = new SessionCache[graft.ops.LshIndex](_.unpersist())
  private[graft] val ivfCache = new SessionCache[graft.ops.IvfState](_.unpersist())
  private[graft] val termIndexCache = new SessionCache[graft.ops.TermIndexState]()
  // packed int8 index (r15): session-bound (persisted RDD blocks when
  // distributed; a driver-local array under the small-corpus threshold)
  private[graft] val int8IndexCache =
    new SessionCache[graft.ops.Int8VectorIndex[Long]](_.unpersist())
  // ANN-evaluation query set: the 16-row bounded top-k-by-id selection is
  // derived with ONE corpus pass and collected to a local relation, then
  // shared by the recall and MRR reports (each previously paid its own
  // derivation pass on top of its scoring scans). The cache holds the
  // COLLECTED rows + schema, not a DataFrame: a cached frame is bound to
  // the session active at fill time, and a later session in the same JVM
  // (test suites stop/recreate sessions) would receive a plan referencing
  // a stopped session. Rebuilding the 16-row local relation per call is
  // free; the corpus pass is what the cache saves.
  private[graft] val evalQueryCache = new java.util.concurrent.ConcurrentHashMap[
    String, Memo[(Array[Row], StructType)]]()
  private[graft] def evalQueries(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val (rows, schema) = memoized(evalQueryCache, dir) {
      val df = graft.ops.Evaluation.lshQuerySet(t(s, dir, "embeddings"),
        "embedding", "vec_id", dim = 64, numQueries = 16, numPlanes = 12)
      (df.collect(), df.schema)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
  // The stored corpus-side KMV overlap sketch (r15): built + persisted
  // once per data dir (the ingest-time cost), then every batch-overlap
  // gate call READS it through the durable parquet layout — the round
  // trip is part of what the gate verifies. Session-free value (a plain
  // long array + params), so a dir-keyed Memo map suffices.
  private[graft] val kmvSketchCache = new java.util.concurrent.ConcurrentHashMap[
    String, Memo[graft.ops.KmvSketchStore.CorpusKmvSketch]]()
  private[graft] def storedCorpusSketch(s: SparkSession,
      dir: String): graft.ops.KmvSketchStore.CorpusKmvSketch =
    memoized(kmvSketchCache, dir) {
      val path = new java.io.File("target/kmv_sketch_gate").getAbsolutePath + "/" +
        java.lang.Integer.toHexString(dir.hashCode)
      graft.ops.KmvSketchStore.build(
        t(s, dir, "documents").filter(col("doc_id") % 10 =!= 0),
        "text", path)
      graft.ops.KmvSketchStore.read(s, path)
    }
  // BM25 corpus stats are index metadata — computed once per corpus+terms,
  // like the ANN index caches above; the per-query cost is then one scan.
  private[graft] val bm25StatsCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[String]), Memo[graft.ops.KeywordSearch.Bm25Stats]]()
  private[graft] def bm25Stats(s: SparkSession, dir: String,
      terms: Seq[String]): graft.ops.KeywordSearch.Bm25Stats =
    memoized(bm25StatsCache, (dir, terms)) {
      graft.ops.KeywordSearch.corpusStats(t(s, dir, "documents"), "text", terms)
    }
  // The prepared trade graph (snapshotted out-degreed edges + node set)
  // is graph-index build, like the ANN caches above: built once per data
  // dir, iterated many times. Snapshot blocks are RDD-level
  // (localCheckpoint), so they free on GC rather than holding
  // CacheManager entries for the session.
  private[graft] val preparedGraphCache =
    new SessionCache[graft.ops.Graph.PreparedGraph]()
  private[graft] def preparedTradeGraph(s: SparkSession,
      dir: String): graft.ops.Graph.PreparedGraph =
    preparedGraphCache.get(s, dir) {
      graft.ops.Graph.PreparedGraph.build(
        graft.ops.Graph.tradeGraphIds(t(s, dir, "orders"), t(s, dir, "lineitem")),
        "src", "dst")
    }

  /** Release every session-bound cached state this registry built:
    * unpersist the LSH/IVF cache-manager entries and drop the maps whose
    * values hold DataFrames/RDD blocks (term index, prepared graph, eval
    * rows are session-free but cheap to redo). A long-lived JVM that
    * interleaves the gate sweep with other measured work (Bench's
    * chromem-parity family) calls this so leftover persisted state can't
    * poison a later timing window — r8's dataframe-family point measured
    * 816 ms against an 11.4 ms control exactly because ~1 GB of sweep
    * leftovers were still resident. Caches refill on next use. */
  def releaseCaches(): Unit = {
    lshCache.foreachValue(idx => try idx.unpersist() catch { case _: Throwable => () })
    lshCache.clear()
    ivfCache.foreachValue(st => try st.unpersist() catch { case _: Throwable => () })
    ivfCache.clear()
    termIndexCache.clear()
    int8IndexCache.foreachValue(ix =>
      try ix.unpersist() catch { case _: Throwable => () })
    int8IndexCache.clear()
    preparedGraphCache.clear()
    evalQueryCache.clear()
    bm25StatsCache.clear()
    pcaCache.clear()
    kmvSketchCache.clear()
  }

  // Snapshot store for the snapshot_diff gate op: the two versions are
  // committed once per data dir (writing them is ingest, not the timed
  // query), and the temp root is deleted on JVM exit instead of leaking
  // one directory per invocation across bench warmup + repeats.
  private[graft] val snapshotCache =
    new java.util.concurrent.ConcurrentHashMap[String, Memo[graft.persist.SnapshotStore]]()
  private[graft] def snapshotStore(dir: String)(
      build: => graft.persist.SnapshotStore): graft.persist.SnapshotStore =
    memoized(snapshotCache, dir)(build)
  private[graft] def deleteRecursivelyOnExit(root: java.nio.file.Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    }))

  /** events.ts is TIMESTAMP(NANOS) in the source parquet; with
    * spark.sql.legacy.parquet.nanosAsLong=true it surfaces as long nanos —
    * convert to a proper timestamp (microsecond precision). */
  private[graft] def events(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    e.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer DIV, not `/`: double division on ~1.7e18 ns values loses
        // sub-µs bits (53-bit mantissa) and shifts some rows by ±1 µs
        e.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // some sf dirs write isAdjustedToUTC=false micros → Spark reads
        // TIMESTAMP_NTZ, which unix_micros/window reject; session tz is
        // pinned UTC in every entrypoint, so this cast is the identity
        // on the underlying micros value
        e.withColumn("ts", col("ts").cast("timestamp"))
      case _ => e
    }
  }

  /** First embedding with the given vec_id (the driver-side query vector,
    * like the reference's driver-side query embedding). Cached per
    * (dir, id): the lookup is a driver-side point-read job, and paying it
    * once per corpus rather than once per query call mirrors a real
    * client holding its query embedding. */
  private[graft] val vecCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Memo[Array[Float]]]()
  private[graft] def vec(spark: SparkSession, dir: String, vecId: Long): Array[Float] =
    memoized(vecCache, (dir, vecId)) {
      t(spark, dir, "embeddings").filter(col("vec_id") === vecId)
        .select("embedding").head().getSeq[Float](0).toArray
    }

  /** Unrolled min-label-propagation rounds for the connected-components
    * oracles (dedup_components, split_leakage_safe). DuckDB 1.0's
    * recursive CTE accumulates EVERY (node, reachable-label) pair under
    * UNION semantics — on the near-clique dup clusters at sf0.1 (~3M
    * edges over 3.9k nodes) that walk exceeded 900 s. These rounds
    * instead iterate `label := min(label, min over in-neighbors)`,
    * keeping ONE row per node per round (each round: one edge join +
    * two aggregates over `edges`/`s{i-1}` CTEs the caller defines;
    * MATERIALIZED because every stage is referenced twice — the
    * DuckDB-inlining house rule). Convergence to the true component
    * minimum needs `rounds >= graph diameter`; callers append a poison
    * row when s{n} <> s{n-1} so an unconverged replay FAILS the hash
    * compare loudly instead of under-merging silently. NOTE the poison
    * makes the final round a pure CONFIRMATION round: a graph of
    * diameter exactly n converges at round n yet still fires the
    * s{n} <> s{n-1} check, so callers must unroll `diameter bound + 1`
    * rounds — the clean-pass condition is `diameter <= n-1`. */
  private[graft] def minLabelRounds(n: Int): String = (1 to n).map { i =>
    val p = s"s${i - 1}"
    s"""s$i AS MATERIALIZED (
       |  SELECT p.id, least(p.label, coalesce(n.m, p.label)) AS label
       |  FROM $p p LEFT JOIN (
       |    SELECT e.dst AS id, min(q.label) AS m
       |    FROM edges e JOIN $p q ON q.id = e.src
       |    GROUP BY e.dst) n ON n.id = p.id)""".stripMargin
  }.mkString(",\n")

  /** Unrolled k-center-greedy replay for the emb_coreset oracle: the
    * same technique as [[minLabelRounds]] (sequential algorithm → k
    * MATERIALIZED stages), replaying Coreset.kCenterSelect EXACTLY.
    *
    * Exactness: every comparison the Scala side decides (sign-aware
    * cross-multiplied cosine compare on scaled-integer vectors, BigInt
    * fallback) is decided here on HUGEINT. That caps the usable scale:
    * the cross-row compare multiplies four factors (dot² · norm² pairs),
    * so with unit-norm embeddings the products are ~scale⁸ — at
    * scale=1e4 that is ~1e32, inside HUGEINT's 1.7e38; the operator's
    * default 1e7 would need 1e56 (VARINT, absent in DuckDB 1.0.0).
    * The gate entry therefore pins scale=1e4 on BOTH sides; the
    * operator's exactness contract is scale-independent (CoresetSpec).
    *
    * Per round r (selected set grows by one):
    *  - g_r: the not-yet-picked rows with a DOUBLE sort key
    *    sign(bd)·bd²/(n2·bn) — monotone in the true cosine with ≤ ~4e-16
    *    relative error;
    *  - sl_r: the slice within 1e-9 relative of the minimum key — far
    *    wider than the double error, so the EXACT argmin is provably
    *    inside;
    *  - w_r: the exact winner, adjudicated pairwise inside the tiny
    *    slice with the HUGEINT comparator (ties → lowest id — the Scala
    *    fartherThan convention);
    *  - d_r/s_r: incremental witness update — each row keeps its
    *    nearest-center (dot, centerNorm²) pair, replaced only when the
    *    NEW center is STRICTLY closer, which replicates maxWitness's
    *    first-wins iteration in selection order. Rows with zero norm
    *    (either side) carry dot=0, the compareCos convention.
    * The last round emits only its winner (no dead witness update). */
  private[graft] def coresetOracle(k: Int, scale: Long): String = {
    require(k >= 2, "coresetOracle unrolls k >= 2 rounds")
    // beats(x, w): x is STRICTLY farther than w, or exactly tied with a
    // smaller id — the NOT EXISTS predicate that makes w the unique winner
    val beats: String = {
      val (xv, wv) = (s"(x.bd::HUGEINT * x.bd * w.n2 * w.bn)",
        s"(w.bd::HUGEINT * w.bd * x.n2 * x.bn)")
      s"""CASE WHEN sign(x.bd) <> sign(w.bd) THEN sign(x.bd) < sign(w.bd)
         |           WHEN x.bd = 0 THEN x.id < w.id
         |           WHEN x.bd > 0 THEN $xv < $wv OR ($xv = $wv AND x.id < w.id)
         |           ELSE $xv > $wv OR ($xv = $wv AND x.id < w.id) END""".stripMargin
    }
    def winner(r: Int): String = {
      val p = s"s${r - 1}"
      s"""g$r AS MATERIALIZED (
         |  SELECT id, n2, bd, bn,
         |    CASE WHEN bd = 0 THEN 0.0
         |         ELSE sign(bd) * ((bd::DOUBLE) * (bd::DOUBLE) / ((n2::DOUBLE) * (bn::DOUBLE)))
         |    END AS kd
         |  FROM $p WHERE NOT done),
         |sl$r AS MATERIALIZED (
         |  SELECT g.* FROM g$r g
         |  WHERE g.kd <= (SELECT min(kd) + 1e-9 * abs(min(kd)) + 1e-18 FROM g$r)),
         |w$r AS MATERIALIZED (
         |  SELECT w.id FROM sl$r w WHERE NOT EXISTS (
         |    SELECT 1 FROM sl$r x WHERE x.id <> w.id AND (
         |      $beats)))""".stripMargin
    }
    def update(r: Int): String = {
      val p = s"s${r - 1}"
      s"""d$r AS MATERIALIZED (
         |  SELECT s.id, s.e, s.n2, s.bd, s.bn,
         |    s.done OR s.id = (SELECT id FROM w$r) AS done,
         |    CASE WHEN s.n2 = 0 OR c.n2 = 0 THEN 0
         |         ELSE list_sum(list_transform(range(1, len(s.e) + 1),
         |                i -> s.e[i] * c.e[i]))::BIGINT END AS nd,
         |    c.n2 AS cn
         |  FROM $p s, (SELECT b.e, b.n2 FROM base b JOIN w$r w ON b.id = w.id) c),
         |s$r AS MATERIALIZED (
         |  SELECT id, e, n2,
         |    CASE WHEN repl THEN nd ELSE bd END AS bd,
         |    CASE WHEN repl THEN cn ELSE bn END AS bn, done
         |  FROM (SELECT *,
         |    CASE WHEN sign(nd) <> sign(bd) THEN sign(nd) > sign(bd)
         |         WHEN nd = 0 THEN FALSE
         |         WHEN nd > 0 THEN (nd::HUGEINT * nd * bn) > (bd::HUGEINT * bd * cn)
         |         ELSE (nd::HUGEINT * nd * bn) < (bd::HUGEINT * bd * cn) END AS repl
         |    FROM d$r))""".stripMargin
    }
    val rounds = (1 until k).map { r =>
      if (r < k - 1) winner(r) + ",\n" + update(r) else winner(r)
    }.mkString(",\n")
    val picks = (1 until k)
      .map(r => s"UNION ALL SELECT id, ${r + 1}::BIGINT FROM w$r")
      .mkString("\n")
    s"""WITH raw AS MATERIALIZED (
       |  SELECT vec_id AS id,
       |    list_transform(embedding, x -> round(x::DOUBLE * $scale)::BIGINT) AS e
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |base AS MATERIALIZED (
       |  SELECT id, e, list_sum(list_transform(e, x -> x * x))::BIGINT AS n2 FROM raw),
       |w0 AS MATERIALIZED (SELECT min(id) AS id FROM base),
       |s0 AS MATERIALIZED (
       |  SELECT s.id, s.e, s.n2,
       |    CASE WHEN s.n2 = 0 OR c.n2 = 0 THEN 0
       |         ELSE list_sum(list_transform(range(1, len(s.e) + 1),
       |                i -> s.e[i] * c.e[i]))::BIGINT END AS bd,
       |    c.n2 AS bn, s.id = c.id AS done
       |  FROM base s, (SELECT b.id, b.e, b.n2 FROM base b JOIN w0 w ON b.id = w.id) c),
       |$rounds
       |SELECT id AS vec_id, 1::BIGINT AS rank FROM w0
       |$picks""".stripMargin
  }

  // 21 English stopwords shared with the oracle SQL below.
  private[graft] val Stopwords = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "by", "at", "it", "that", "this", "be")
  private[graft] val StopwordsSqlList = Stopwords.map(w => s"'$w'").mkString(", ")
}

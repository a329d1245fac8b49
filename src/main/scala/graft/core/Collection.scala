package graft.core

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.embed.EmbeddingFunc
import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.{dot_const_f32, is_normalized, normalize_f32}
import graft.ops.{IvfState, LshIndex, VectorIndex}

/**
 * A collection of documents — parity with reference collection.go:16-29,
 * re-expressed Spark-first.
 *
 * State is one immutable DataFrame with `Document.schema`, swapped
 * atomically on mutation. Immutability gives the reader/writer safety the
 * reference gets from its RWMutex (collection.go:21) with zero locking on
 * the read path. A driver-side row count is maintained with the state so
 * the `nResults <= count` check (collection.go:505-507) costs no Spark job.
 *
 * Scale notes (100 TB design):
 *  - The query path is filter → scalar dot-product projection →
 *    `ORDER BY sim DESC LIMIT k`. Catalyst plans the latter as
 *    TakeOrderedAndProject: per-partition bounded heap + driver merge —
 *    exactly the reference's per-goroutine-heap algorithm (query.go:16-83)
 *    but distributed, with NO full shuffle and NO full sort.
 *  - The query vector travels as a literal (few KB) — no broadcast join.
 *  - Filters run before scoring, so the expensive dot product only runs
 *    on filter survivors (reference orders it the same way,
 *    collection.go:521 before :542): pushed to the parquet scan on the
 *    DataFrame path, tested on each row's payload inside the packed
 *    scan once [[buildIndex]] has run.
 */
class Collection private[core] (
    val name: String,
    collMetadata: Map[String, String],
    initialEmbedFunc: EmbeddingFunc,
    private val spark: SparkSession,
    initial: Option[DataFrame],
    persist: Option[CollectionPersistence]) {

  // Mutable like the reference's collection.embed (db.go:552-558
  // re-attaches on the SAME object): handing out a re-attached COPY
  // would fork the collection — earlier handles and the registry entry
  // would then mutate independent states over one parquet dir.
  @volatile private var embedFuncRef: EmbeddingFunc = initialEmbedFunc
  def embedFunc: EmbeddingFunc = embedFuncRef
  private[core] def setEmbeddingFunc(ef: EmbeddingFunc): Unit = { embedFuncRef = ef }

  // DB.deleteCollection / createCollection-overwrite detach the old
  // handle's persistence so a stale handle's later mutation can never
  // recreate the deleted directory on disk (sidecar-less resurrection
  // on the next DB.persistent reload). The stale mutation itself fails
  // loudly anyway — its upsert plan reads the deleted parquet — which
  // is the intended outcome: an error, not silent resurrection.
  @volatile private var persistRef: Option[CollectionPersistence] = persist
  private[core] def detachPersistence(): Unit = { persistRef = None }

  import spark.implicits._

  /** One immutable view of the collection: rows + count + the optional
    * indexes built OVER those rows, swapped together through a single
    * volatile (replaces documentsLock RWMutex, collection.go:21). Readers
    * take ONE `snap` read and get a coherent (state, index) pair. The
    * flat index carries each row's metadata and content beside its
    * slab, so an indexed query reads that one object and never `df0`:
    * it cannot pair an old index with new rows. Writers are all
    * `synchronized` and swap through [[publish]], which unpersists
    * displaced indexes AFTER the swap so no new reader can pick them
    * up. */
  private final class Snap(
      val df0: DataFrame,
      n0: => Long,
      val flat: Option[VectorIndex[String]],
      val lsh: Option[LshIndex],
      val ivf: Option[IvfState]) {
    // plain class (not a case class: the synthetic inner-class equals
    // emits an uncheckable outer-reference type test); identity
    // semantics are what `snap eq before` wants anyway
    /** Row count of df0. LAZY so the OPEN-time snap defers its count —
      * DB.persistent used to run one Spark count job per catalog entry
      * before returning (linear-in-collections startup); the first
      * count()/ingest that needs the number forces it once. Mutation
      * commits pass a known value: on both tiers the commit's one job
      * counts the rows it materializes, before the swap. So a forced
      * lazy count only ever races a commit on the OPEN snap — count()
      * wraps in readCommitted for exactly that window.
      * A lazy val whose initializer throws stays uninitialized, so a
      * lost-file failure does not poison the snap for the retry. */
    lazy val n: Long = n0
    def copy(
        flat: Option[VectorIndex[String]] = this.flat,
        lsh: Option[LshIndex] = this.lsh,
        ivf: Option[IvfState] = this.ivf): Snap =
      new Snap(df0, n, flat, lsh, ivf)
  }

  @volatile private var snap: Snap = {
    val df = initial.getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Document.schema))
    // the count defers via Snap's by-name n (no job when never asked);
    // getOrElse(0L) keeps fresh in-memory collections job-free forever
    new Snap(df, initial.map(_.count()).getOrElse(0L), None, None, None)
  }

  def metadata: Map[String, String] = collMetadata

  /** Current collection contents as a DataFrame. In-memory collections
    * return a checkpointed snapshot — immutable under later mutations.
    * PERSISTENT collections return a live view over the collection's
    * parquet files BY DESIGN (pinning a 100 TB corpus into executor
    * blocks per mutation would defeat the persistent tier): the next
    * mutation replaces those files, after which frames returned EARLIER
    * fail on access (Spark's "underlying files have been updated").
    * Callers needing a mutation-stable snapshot of a persistent
    * collection should `.localCheckpoint()` the returned frame, or keep
    * real versions via [[graft.persist.SnapshotStore]]. */
  def df: DataFrame = snap.df0

  /** Row count — reference collection.go:391-395, served from driver
    * state (O(1) after the snap's count is known). An OPEN-time snap
    * defers its count to the first call, which scans live parquet and
    * can therefore lose its file view to a concurrent commit — same
    * read-committed contract (and retry) as every other collecting
    * read. */
  def count(): Long = readCommitted(snap.n)

  // ------------------------------------------------------------------
  // Ingest (reference collection.go:131-293)
  // ------------------------------------------------------------------

  /** Chroma-style columnar add — reference collection.go:131-133. */
  def add(
      ids: Seq[String],
      embeddings: Seq[Array[Float]] = null,
      metadatas: Seq[Map[String, String]] = null,
      contents: Seq[String] = null): Unit =
    addConcurrently(ids, embeddings, metadatas, contents, concurrency = 1)

  /** Columnar add with validation — reference collection.go:140-187.
    * `concurrency` maps to ingest partition count. */
  def addConcurrently(
      ids: Seq[String],
      embeddings: Seq[Array[Float]] = null,
      metadatas: Seq[Map[String, String]] = null,
      contents: Seq[String] = null,
      concurrency: Int = 1): Unit = {
    if (ids == null || ids.isEmpty)
      throw new IllegalArgumentException("ids are empty")
    if ((embeddings == null || embeddings.isEmpty) && (contents == null || contents.isEmpty))
      throw new IllegalArgumentException("either embeddings or contents must be filled")
    if (embeddings != null && embeddings.nonEmpty && embeddings.length != ids.length)
      throw new IllegalArgumentException("ids and embeddings must have the same length")
    if (metadatas != null && metadatas.nonEmpty && metadatas.length != ids.length)
      throw new IllegalArgumentException(
        "when metadatas is not empty it must have the same length as ids")
    if (contents != null && contents.nonEmpty && contents.length != ids.length)
      throw new IllegalArgumentException("ids and contents must have the same length")
    if (concurrency < 1)
      throw new IllegalArgumentException("concurrency must be at least 1")
    val docs = ids.indices.map { i =>
      Document(
        id = ids(i),
        metadata = if (metadatas == null || metadatas.isEmpty) Map.empty else metadatas(i),
        embedding = if (embeddings == null || embeddings.isEmpty) null else embeddings(i),
        content = if (contents == null || contents.isEmpty) null else contents(i))
    }
    addDocuments(docs, concurrency)
  }

  /** Batch upsert — reference collection.go:193-245 + AddDocument :250-293.
    * Deduplicates on the DRIVER, in batch order: the last occurrence of
    * each id wins (map-assignment overwrite, collection.go:280). The ids
    * are then known, so the rows they displace are dropped by a filter
    * on those ids, and the batch goes straight into the commit without a
    * shuffle or a cache: a persistent collection commits a batch whose
    * documents all carry vectors in one Spark job, adding one file.
    * Docs without a vector are embedded via `embedFunc` per partition,
    * spread over `concurrency` partitions (one task = one reference
    * worker goroutine); vectors are normalized on ingest when needed so
    * the query path never re-normalizes stored vectors
    * (collection.go:272-276). */
  def addDocuments(documents: Seq[Document], concurrency: Int = 1): Unit = {
    if (documents == null || documents.isEmpty)
      throw new IllegalArgumentException("documents slice is nil or empty")
    if (concurrency < 1)
      throw new IllegalArgumentException("concurrency must be at least 1")
    documents.foreach(Document.validate)
    val lastWins = documents.zipWithIndex
      .groupBy(_._1.id).valuesIterator.map(_.maxBy(_._2)._1).toVector
    // one partition, so a commit adds one file to the collection; more
    // only to spread embedding over `concurrency` tasks (a shuffle)
    val parts =
      if (lastWins.exists(Collection.lacksVector)) math.min(concurrency, lastWins.size) else 1
    val local = spark.createDataset(lastWins).toDF()
    val batch = if (parts == 1) local.coalesce(1) else local.repartition(parts)
    val ids = lastWins.map(_.id)
    synchronized {
      val old = snap.df0
      // a null id matches no batch id, as in addDF's anti-join
      commit(old.filter(col("id").isNull || !col("id").isInCollection(ids))
        .unionByName(embedded(batch)))
    }
  }

  /**
   * Bulk upsert of a conforming DataFrame — THE scale path. A DataFrame
   * batch has no order and may repeat ids, so addDF deduplicates on the
   * executors: within-batch last-writer-wins over a window on `id`, then
   * an anti-join of the old state against the batch ids, then union.
   * Both the window and the anti-join shuffle on `id`. The embed and
   * normalize step and the commit are the ones [[addDocuments]] runs.
   */
  def addDF(batch: DataFrame): Unit = synchronized {
    // last occurrence per id within the batch wins (SURVEY §7.4).
    // "Last" means PARTITION order: monotonically_increasing_id ranks by
    // (partition index, position), which is deterministic for a given
    // partitioning but is NOT an arrival order — a distributed batch has
    // none. Callers that need a specific winner among same-id rows must
    // pre-dedup (addDocuments does, driver-side) or carry an explicit
    // sequence column and dedup on it before addDF.
    val deduped = embedded(batch)
      .withColumn("__seq", monotonically_increasing_id())
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("__seq").desc)))
      .filter(col("__rn") === 1).drop("__seq", "__rn")
      // persist: `next` references this subtree TWICE (anti-join id side
      // and union payload side) and column pruning can't reach into the
      // embed mapPartitions — without the cache every document would be
      // EMBEDDED twice per upsert, doubling the provider API cost of
      // the single most expensive ingest stage
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val old = snap.df0
      commit(old.join(deduped.select("id"), Seq("id"), "left_anti").unionByName(deduped))
    } finally { deduped.unpersist(); () }
  }

  /** `batch` conformed to `Document.schema`, each missing vector
    * embedded and each vector normalized. */
  private def embedded(batch: DataFrame): DataFrame = {
    val ef = embedFunc
    val conformed = batch.select(
      col("id").cast("string").as("id"),
      col("metadata").cast(Document.schema("metadata").dataType).as("metadata"),
      col("embedding").cast("array<float>").as("embedding"),
      col("content").cast("string").as("content"))
    // Embed missing vectors per PARTITION via embedBatch — one embedding
    // client + request batching per task, not a row-at-a-time UDF call
    // (the reference's worker-goroutine shape, collection.go:218-240,
    // mapped onto Spark tasks).
    conformed.as[Document].mapPartitions { it =>
      it.grouped(256).flatMap { chunk => // bounded per-task buffering
        // id validation HERE, not just in addDocuments (reference
        // NewDocument, collection.go:257-259): addDF is the scale entry
        // point, and a null/empty-id row that carries its own embedding
        // would otherwise skip every other guard and enter state as an
        // unaddressable id
        chunk.foreach { d =>
          if (d.id == null || d.id.isEmpty)
            throw new IllegalArgumentException("document id is empty")
        }
        val (needVec, haveVec) = chunk.partition(Collection.lacksVector)
        needVec.foreach { d =>
          if (d.content == null || d.content.isEmpty)
            throw new IllegalArgumentException(
              "either document embedding or content must be filled")
        }
        val vecs = ef.embedBatch(needVec.iterator.map(_.content)).toSeq
        if (vecs.length != needVec.length)
          throw new IllegalStateException(
            s"embedding function returned ${vecs.length} vectors for ${needVec.length} texts")
        haveVec ++ needVec.lazyZip(vecs).map((d, v) => d.copy(embedding = v))
      }
    }.toDF()
      .withColumn("embedding",
        when(is_normalized(col("embedding")), col("embedding"))
          .otherwise(normalize_f32(col("embedding"))))
  }

  /**
   * Continuous ingestion: upsert every micro-batch of a streaming
   * DataFrame (document-schema-conforming) into this collection.
   * `foreachBatch` gives the batch-side merge (embed-missing + last-wins
   * upsert) exactly-once per epoch under the checkpoint. The streaming
   * tier of the ingest family — at scale this is how a collection tails
   * a landing zone.
   */
  def addStream(
      stream: DataFrame,
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) addDF(batch)
      }
      .start()

  // ------------------------------------------------------------------
  // Point lookups / maintenance (reference collection.go:296-395)
  // ------------------------------------------------------------------

  /** Point lookup — reference collection.go:311-331. */
  def getByID(id: String): Document = {
    if (id == null || id.isEmpty)
      throw new IllegalArgumentException("document ID is empty")
    readCommitted {
      df.filter(col("id") === lit(id)).as[Document].collect().headOption
        .getOrElse(throw new NoSuchElementException(s"document with ID '$id' not found"))
    }
  }

  /** All IDs — reference collection.go:296-306. API-parity convenience
    * that COLLECTS to the driver: at 100 TB (billions of ids) this OOMs —
    * use [[listIDsDF]] for anything downstream of a real corpus. */
  def listIDs(): Seq[String] = readCommitted {
    df.select("id").as[String].collect().toIndexedSeq
  }

  /** All IDs as a DataFrame — the scale-safe form of [[listIDs]]:
    * composes into joins/anti-joins without ever touching the driver. */
  def listIDsDF(): DataFrame = df.select("id")

  /** Delete by ids and/or filters — reference collection.go:338-388.
    * Spark-first: the new state is an anti-filter (no per-row file deletes). */
  def delete(
      where: Map[String, String] = Map.empty,
      whereDocument: Map[String, String] = Map.empty,
      ids: Seq[String] = Seq.empty): Unit = synchronized {
    if (where.isEmpty && whereDocument.isEmpty && ids.isEmpty)
      throw new IllegalArgumentException("must have at least one of where, whereDocument or ids")
    Filters.validateWhereDocument(whereDocument, "unsupported whereDocument operator")
    val old = snap.df0
    // Reference precedence (collection.go:359-368): when any filter map is
    // given, the filter decides the victims; ids are used only otherwise.
    val victim =
      if (where.nonEmpty || whereDocument.nonEmpty) Filters.predicate(where, whereDocument)
      else col("id").isInCollection(ids)
    commit(old.filter(!victim))
  }

  // ------------------------------------------------------------------
  // Query (reference collection.go:414-559, query.go)
  // ------------------------------------------------------------------

  /** Text query — reference collection.go:414-429. */
  def query(
      queryText: String,
      nResults: Int,
      where: Map[String, String] = Map.empty,
      whereDocument: Map[String, String] = Map.empty): Seq[QueryResult] = {
    if (queryText == null || queryText.isEmpty)
      throw new IllegalArgumentException("queryText is empty")
    queryEmbedding(embedFunc.embed(queryText), nResults, where, whereDocument)
  }

  /** Vector query — reference collection.go:484-493. */
  def queryEmbedding(
      queryEmbedding: Array[Float],
      nResults: Int,
      where: Map[String, String] = Map.empty,
      whereDocument: Map[String, String] = Map.empty): Seq[QueryResult] =
    exactQuery(queryEmbedding, nResults, filterOf(where, whereDocument), negVector = null, negThreshold = 0f)

  /** Options/negative query — reference collection.go:431-481. */
  def queryWithOptions(options: QueryOptions): Seq[QueryResult] = {
    val hasText = options.queryText != null && options.queryText.nonEmpty
    val hasVec = options.queryEmbedding != null && options.queryEmbedding.nonEmpty
    if (!hasText && !hasVec)
      throw new IllegalArgumentException("QueryText and QueryEmbedding options are empty")
    var qv = if (hasVec) options.queryEmbedding else embedFunc.embed(options.queryText)
    var negVec: Array[Float] = null
    var negThreshold = 0f
    val neg = options.negative
    if (neg != null && ((neg.text != null && neg.text.nonEmpty) ||
        (neg.embedding != null && neg.embedding.nonEmpty))) {
      val nvRaw =
        if (neg.embedding != null && neg.embedding.nonEmpty) neg.embedding
        else embedFunc.embed(neg.text)
      val nv = VectorFunctions.normalized(nvRaw)
      neg.mode match {
        case NegativeMode.Subtract | null | "" =>
          qv = VectorFunctions.normalize(VectorFunctions.subtract(qv, nv))
        case NegativeMode.Filter =>
          negVec = nv
          negThreshold =
            if (neg.filterThreshold == 0f) NegativeMode.DefaultNegativeFilterThreshold
            else neg.filterThreshold
        case other =>
          throw new IllegalArgumentException(s"""unsupported negative mode: "$other"""")
      }
    }
    exactQuery(qv, options.nResults, filterOf(options.where, options.whereDocument), negVec, negThreshold)
  }

  /**
   * Build (or rebuild) the packed FLAT index for this collection's
   * embeddings, with each row's metadata and content decoded beside the
   * slab in the same pass. Every exact `query`/`queryEmbedding`/
   * `queryWithOptions`/`queryEmbeddingWhere` call then scans packed
   * primitive float[] slabs (~2× faster than the columnar DataFrame scan;
   * see ops.VectorIndex) in one pass: `where`, `whereDocument`, clauses
   * and the negative filter are tested on each row's payload before it
   * is scored, and the winners' documents are read from the index —
   * like the reference, which filters and reads them from its in-memory
   * map (collection.go:521, :547-556) — with no Spark job on the
   * driver-local tier. Any mutation drops the index; call again to
   * rebuild.
   */
  def buildIndex(numBlocks: Int = 0): Unit =
    // explicit type: the this.type chain otherwise infers an
    // inexpressible existential (a -feature warning)
    swapIndex[VectorIndex[String]]((s, i) => s.copy(flat = i)) { rows =>
      VectorIndex.buildWithPayload[String](rows, "id", "embedding", "metadata", "content",
        embeddingDim(rows), numBlocks).persist().materialize()
    }

  def hasIndex: Boolean = snap.flat.isDefined

  /**
   * Build (or rebuild) a persisted hyperplane-LSH index: one map-only
   * signature pass over the collection, cached. Subsequent
   * `queryEmbeddingApprox` calls probe the precomputed signature column —
   * no per-query corpus signature recompute.
   */
  def buildLshIndex(numPlanes: Int = 16, seed: Long = 42L): Unit =
    swapIndex[LshIndex]((s, i) => s.copy(lsh = i)) { rows =>
      graft.ops.AnnIndex.buildLsh(rows, "embedding", "id",
        dim = embeddingDim(rows), numPlanes = numPlanes, seed = seed).materialize()
    }

  /**
   * Build (or rebuild) a persisted IVF index: centroids trained once on a
   * bounded driver-side sample, corpus clustered by cell and cached.
   * Subsequent `queryEmbeddingApprox` calls scan only the `nprobe`
   * nearest cells of the clustered layout.
   */
  def buildIvfIndex(nlist: Int = 16, sampleSize: Int = 10000): Unit =
    swapIndex[IvfState]((s, i) => s.copy(ivf = i)) { rows =>
      graft.ops.AnnIndex.buildIvf(rows, "embedding", "id",
        nlist = nlist, sampleSize = sampleSize).materialize()
    }

  def hasAnnIndex: Boolean = { val s = snap; s.lsh.isDefined || s.ivf.isDefined }

  /** Builds one index over the embedded rows of ONE snap read (nothing
    * while the collection is empty) and publishes it in the slot `put`
    * fills, releasing the index it displaces. */
  private def swapIndex[I](put: (Snap, Option[I]) => Snap)(build: DataFrame => I): Unit =
    synchronized {
      val s = snap
      if (s.n > 0) publish(put(s, Some(build(s.df0.filter(col("embedding").isNotNull)))))
    }

  /**
   * Approximate nearest-neighbor query through a built ANN index (LSH
   * preferred, then IVF); falls back to the EXACT path when none is
   * built. Unfiltered by design — an ANN layout is an unfiltered
   * physical clustering; filtered queries take the exact path where
   * predicates prune before scoring.
   *
   * An approximate probe visits only the query's signature/cell
   * neighborhood, so it can find FEWER than `nResults` rows (e.g. a tight
   * `maxHamming` around an isolated query). When that happens this method
   * falls back to the exact path rather than silently underfilling — the
   * caller always gets min(nResults, embedded rows) results. (nResults is
   * validated against the total document count for reference error
   * parity; rows with no embedding can never be returned by either path.)
   */
  def queryEmbeddingApprox(
      queryEmbedding: Array[Float],
      nResults: Int,
      maxHamming: Int = 2,
      nprobe: Int = 2): Seq[QueryResult] = {
    checkQuery(nResults, None, Some(queryEmbedding))
    readCommitted {
      val s = snap // one coherent (state, index) view for the whole probe
      val probe = s.lsh.map(_.topK(queryEmbedding, nResults, maxHamming))
        .orElse(s.ivf.map(_.topK(queryEmbedding, nResults, nprobe)))
      probe match {
        case Some(p) =>
          val rows = p.as[QueryResult].collect().toIndexedSeq
          if (rows.length < nResults) this.queryEmbedding(queryEmbedding, nResults)
          else rows
        case None => this.queryEmbedding(queryEmbedding, nResults)
      }
    }
  }

  /**
   * Keyword (BM25) query over document content — the lexical retrieval
   * tier a search stack pairs with the vector query. Beyond-reference
   * (chromem-go scores cosine only); tokenization is lowercased
   * whitespace, consistent with the dedup/text operators. Returns up to
   * `nResults` documents that share ≥ 1 term with the query, ranked by
   * Okapi BM25, `similarity` = the BM25 score.
   */
  def queryKeyword(
      terms: Seq[String],
      nResults: Int,
      k1: Double = 1.2,
      b: Double = 0.75): Seq[QueryResult] = {
    checkQuery(nResults, Some(terms), None)
    readCommitted {
      val base = df // ONE state read: score and join back over the same rows
      materializeByScore(graft.ops.KeywordSearch.bm25TopK(
        base.filter(col("content").isNotNull), "content", "id", terms,
        nResults, k1, b), base)
    }
  }

  /**
   * Hybrid query: BM25 keyword top-`fetchK` fused with cosine top-`fetchK`
   * by reciprocal-rank fusion, returning the fused top-`nResults`.
   * `similarity` = the RRF score (Σ 1/(rrfK + rank) over the lists that
   * contain the document).
   */
  def queryHybrid(
      terms: Seq[String],
      queryEmbedding: Array[Float],
      nResults: Int,
      fetchK: Int = 50,
      rrfK: Int = 60): Seq[QueryResult] = {
    checkQuery(nResults, Some(terms), Some(queryEmbedding))
    val q = VectorFunctions.normalized(queryEmbedding)
    val fetch = math.max(fetchK, nResults)
    readCommitted {
      val base = df // ONE state read for lexical side, semantic side, join-back
      materializeByScore(graft.ops.KeywordSearch.hybridTopK(
        base.filter(col("content").isNotNull), "content",
        base.filter(col("embedding").isNotNull), "embedding", "id",
        terms, q, nResults, fetch, rrfK), base)
    }
  }

  /**
   * Late-interaction (ColBERT MaxSim) query: the stored embedding and
   * the query are reshaped into `numSub` contiguous sub-vectors and
   * scored Σ_i max_j ⟨q_i, d_j⟩ — token-level matching that pooling
   * averages away. Beyond-reference retrieval tier alongside
   * queryKeyword/queryHybrid; `similarity` = MaxSim score normalized
   * by numSub (mean best-part cosine, ∈ [-1, 1] for normalized parts).
   */
  def queryMaxSim(
      queryEmbedding: Array[Float],
      nResults: Int,
      numSub: Int = 8): Seq[QueryResult] = {
    checkQuery(nResults, None, Some(queryEmbedding))
    val q = VectorFunctions.normalized(queryEmbedding)
    // maxSimTopK scores in scale² integer units (one scale per operand
    // of each sub-dot); divide by the same scale the kernel ran with so
    // the two can never drift apart, then average over the sub-vectors.
    val scale = 10000000L
    val unit = scale.toDouble * scale.toDouble * numSub
    readCommitted {
      val base = df // ONE state read: score and join back over the same rows
      val scored = graft.ops.LateInteraction.maxSimTopK(
          base.filter(col("embedding").isNotNull), "embedding", "id",
          q, numSub, nResults, scale)
        .select(col("id"),
          (col("score").cast("double") / unit).as("score"))
      materializeByScore(scored, base)
    }
  }

  /** Read-committed retry for query bodies that scan the collection.
    *
    * In-memory snapshots are localCheckpointed (immutable) — `body` runs
    * once. PERSISTENT collections scan live parquet: each committed view
    * pins its file list when commit() re-reads the directory, so a single
    * view can never silently tear across commits — but a concurrent
    * commit DELETES the displaced files, and a scan that straddles the
    * swap dies loudly (Spark FAILED_READ_FILE / FileNotFoundException /
    * "underlying files ... have been updated"). `body` must read
    * `snap`/`df` INSIDE itself: on file loss we re-run it against the
    * freshly committed snapshot — each attempt sees one coherent view. */
  private[core] def readCommitted[A](body: => A): A = {
    def fileLoss(e: Throwable): Boolean = {
      var c = e
      // depth bound: a cause CYCLE of length > 1 (A->B->A) would loop
      // forever under the simple self-reference check alone; real Spark
      // cause chains are < 10 deep
      var hops = 0
      while (c != null && hops < 20) {
        hops += 1
        if (c.isInstanceOf[java.io.FileNotFoundException]) return true
        c match {
          // typed check first: Spark raises file-loss with the
          // FAILED_READ_FILE.* error condition (SparkThrowable)
          case st: org.apache.spark.SparkThrowable
              if Option(st.getCondition).exists(_.startsWith("FAILED_READ_FILE")) =>
            return true
          case _ =>
        }
        // message backstop: cached-plan invalidation surfaces as plain
        // "underlying files ... have been updated" without the condition
        val m = c.getMessage
        if (m != null && m.contains("have been updated")) return true
        c = if (c.getCause eq c) null else c.getCause
      }
      false
    }
    val maxAttempts = 3
    var attempt = 0
    while (true) {
      attempt += 1
      val before = snap
      try return body
      catch {
        case e: Throwable if persistRef.isDefined && fileLoss(e) =>
          if (attempt >= maxAttempts)
            // sustained back-to-back commits starved the reader; say so
            // instead of surfacing a raw FileNotFoundException
            throw new java.util.ConcurrentModificationException(
              s"read-committed read lost its pinned file view $maxAttempts times " +
                "in a row under concurrent commits; last loss attached").initCause(e)
          // The displaced files die inside the concurrent commit's
          // write() swap, but the NEW snapshot lands only after its
          // post-swap re-read of the directory (its row count came from
          // the commit's job, before the swap) — retrying immediately would
          // re-scan the same dead view. Every writer holds THIS
          // object's monitor from before the swap until after the snap
          // assignment, so briefly taking the monitor blocks exactly
          // until the in-flight commit (however long its re-read takes)
          // has published the fresh view; if the file loss had some
          // other cause (no writer active), this is a no-op and the
          // retry fails fast instead of sleeping out a deadline.
          this.synchronized(())
          if (snap eq before) Thread.sleep(50) // commit not yet in its monitor: one short grace
      }
    }
    throw new IllegalStateException("unreachable: retry loop returns or throws")
  }

  /** Join-back materialization for (id, score) frames — the reference's
    * own re-read-by-id step (collection.go:547-556), preserving the
    * score ranking. `base` must be the SAME frame `scored` was built
    * from: re-reading the volatile state here would tear against a
    * concurrent commit (deleted docs silently dropped from the result,
    * new content attached to old scores). For persistent collections the
    * two collects here scan the same pinned file list, so they stay
    * coherent; a concurrent swap surfaces as file loss, which
    * [[readCommitted]] retries on the new snapshot. */
  private def materializeByScore(
      scored: DataFrame, base: DataFrame): Seq[QueryResult] = {
    val top = scored.collect().map(r => r.getString(0) -> r.getDouble(1)).toIndexedSeq
    if (top.isEmpty) return Seq.empty
    val scores = top.toMap
    val order = top.map(_._1).zipWithIndex.toMap
    base.filter(col("id").isInCollection(top.map(_._1)))
      .as[Document].collect()
      .map(d => QueryResult(d.id, d.metadata, d.embedding, d.content,
        scores(d.id).toFloat))
      .sortBy(r => order(r.id)).toIndexedSeq
  }

  private def embeddingDim(df0: DataFrame): Int =
    df0.select("embedding").filter(col("embedding").isNotNull)
      .head().getSeq[Float](0).length

  /** The argument checks every query makes before it reads the
    * collection, in the reference's order (collection.go:496-507): its
    * `terms`, then its `queryEmbedding` (each only when given), then
    * `nResults`. */
  private def checkQuery(
      nResults: Int, terms: Option[Seq[String]], qv: Option[Array[Float]]): Unit = {
    if (terms.exists(t => t == null || t.isEmpty))
      throw new IllegalArgumentException("terms is empty")
    if (qv.exists(v => v == null || v.isEmpty))
      throw new IllegalArgumentException("queryEmbedding is empty")
    if (nResults <= 0)
      throw new IllegalArgumentException("nResults must be > 0")
    if (nResults > count())
      throw new IllegalArgumentException(
        "nResults must be <= the number of documents in the collection")
  }

  private def filterOf(
      where: Map[String, String],
      whereDocument: Map[String, String]): Option[Filters.Clause] =
    if (where.isEmpty && whereDocument.isEmpty) None
    else Some(Filters.clause(where, whereDocument))

  /** The fused pipeline of reference queryEmbedding (collection.go:496-559):
    * one exact query over ONE snap read. `filter` is built after the
    * argument checks, so a bad `whereDocument` operator is reported
    * after them. A flat-indexed collection answers from the index in
    * one pass: `filter` and the negative filter are tested on each
    * row's payload before it is scored (collection.go:521 before :542),
    * and the winners' documents come from the payload too, so the result
    * is (score desc, id asc) and coherent with the committed view the
    * index was built over. An unindexed collection runs the DataFrame
    * plan of [[queryDF]]. */
  private def exactQuery(
      qv: Array[Float],
      nResults: Int,
      filter: => Option[Filters.Clause],
      negVector: Array[Float],
      negThreshold: Float): Seq[QueryResult] = {
    checkQuery(nResults, None, Some(qv))
    val clause = filter
    // checked up front on both paths, so a negative of another
    // dimension fails even when the filter passes no row
    if (negVector != null && negVector.length != qv.length) throw new IllegalArgumentException(
      s"vectors must have the same length: ${negVector.length} vs ${qv.length}")
    val keep = Collection.keep[String](clause, negVector, negThreshold)
    readCommitted {
      snap.flat match {
        case Some(idx) =>
          idx.topKRows(VectorFunctions.normalized(qv), nResults, keep).toIndexedSeq
            .map(h => QueryResult(h.id, h.metadata, h.embedding, h.content, h.similarity))
        case None => plan(qv, nResults, clause, negVector, negThreshold)
          .as[QueryResult].collect().toIndexedSeq
      }
    }
  }

  /** Clause-combinator query ($and/$or/$not — reference roadmap,
    * README.md:179-180): same pipeline with the clause as its filter. */
  def queryEmbeddingWhere(
      queryEmbedding: Array[Float],
      nResults: Int,
      clause: Filters.Clause): Seq[QueryResult] =
    exactQuery(queryEmbedding, nResults, Some(clause), negVector = null, negThreshold = 0f)

  /** Lazy DataFrame form of the query — for composition / explain / tests. */
  def queryDF(
      qv: Array[Float],
      nResults: Int,
      where: Map[String, String] = Map.empty,
      whereDocument: Map[String, String] = Map.empty,
      negVector: Array[Float] = null,
      negThreshold: Float = 0f): DataFrame =
    plan(qv, nResults, filterOf(where, whereDocument), negVector, negThreshold)

  private def plan(
      qv: Array[Float],
      nResults: Int,
      filter: Option[Filters.Clause],
      negVector: Array[Float],
      negThreshold: Float): DataFrame = {
    // normalize query vector if needed (collection.go:530-532)
    val q = VectorFunctions.normalized(qv)
    // Embedding-less rows (externally landed parquet read by
    // DB.persistent can carry them — Document.schema allows it) must
    // never reach the heap: their similarity is NULL, and once nResults
    // exceeds the embedded-row count the limit would admit them and
    // .as[QueryResult] would crash on the primitive similarity field.
    // The negVector branch filtered them implicitly (null <= thr is
    // never true); this keeps both paths agreeing explicitly.
    var scan = df.filter(col("embedding").isNotNull)
    filter.foreach(c => scan = scan.filter(Filters.compile(c)))
    if (negVector != null) {
      // NEGATIVE_MODE_FILTER: drop docs too similar to the negative
      // (query.go:221-231): keep negSim <= threshold.
      scan = scan.filter(dot_const_f32(col("embedding"), negVector) <= lit(negThreshold))
    }
    scan
      .withColumn("similarity", dot_const_f32(col("embedding"), q))
      // TakeOrderedAndProject = distributed bounded top-k heap (query.go:43-45)
      .orderBy(desc("similarity"), asc("id"))
      .limit(nResults)
  }

  // ------------------------------------------------------------------

  /** Makes `next` the collection's state, with no indexes, in one Spark
    * job that also counts the rows it materializes
    * ([[Collection.materializeCounted]]): a persistent collection writes
    * its parquet; an in-memory one checkpoints locally, which cuts plan
    * lineage so repeated upserts don't grow an unbounded union tree (the
    * in-memory analog of the reference's "persist each mutation",
    * collection.go:284-290). A failed write leaves the committed files
    * and the snap as they were. The count is known before the swap:
    * readCommitted's monitor-bounce relies on the commit publishing the
    * new snap, count included, before releasing this object's monitor. */
  private def commit(next: DataFrame): Unit = {
    val (materialized, rows) = Collection.materializeCounted(next) { observed =>
      persistRef.fold(observed.localCheckpoint(true)) { p => p.write(observed); p.read(spark) }
    }
    publish(new Snap(materialized, rows, None, None, None))
  }

  /** Swaps in `next`, THEN releases each index of the displaced snap
    * that `next` does not carry over: after the swap no new reader can
    * reach it. */
  private def publish(next: Snap): Unit = {
    val old = snap
    snap = next
    if (old.flat ne next.flat) old.flat.foreach(_.unpersist())
    if (old.lsh ne next.lsh) old.lsh.foreach(_.unpersist())
    if (old.ivf ne next.ivf) old.ivf.foreach(_.unpersist())
  }
}

private[graft] object Collection {

  def lacksVector(d: Document): Boolean = d.embedding == null || d.embedding.isEmpty

  /** Runs `materialize` (one Spark job: a parquet write, an eager local
    * checkpoint) on `next` with an `Observation` of `count(1)` attached,
    * and returns the materialized frame with the row count that job
    * observed. Spark posts the count from its listener bus, so it lands
    * just after a job that succeeded; if the bus drops it, the
    * materialized frame is counted instead. A failed job throws before
    * any wait. */
  def materializeCounted(next: DataFrame)(materialize: DataFrame => DataFrame)
      : (DataFrame, Long) = {
    val seen = Observation()
    val done = materialize(next.observe(seen, count(lit(1))))
    val rows = try Await.result(seen.future, 10.seconds).getLong(0)
      catch { case _: TimeoutException => done.count() }
    (done, rows)
  }

  /** The row test of a filtered indexed query, or None when nothing
    * narrows the scan: the payload filter, then NegativeMode.Filter's
    * keep-if `dot(row, negative) <= threshold` (query.go:221-231). The
    * dot is the sequential float sum `dot_const_f32` runs and the
    * comparison is Spark's float order, so each keep/drop decision
    * equals the DataFrame path's. Built here, outside the collection,
    * so the distributed tier ships only the filter to its tasks. */
  def keep[K](filter: Option[Filters.Clause], negative: Array[Float], threshold: Float)
      : Option[(VectorIndex.Block[K], Int) => Boolean] = {
    val payload = filter.map(Filters.eval)
    if (payload.isEmpty && negative == null) None
    else Some { (b, r) =>
      payload.forall(_(b.metadata(r), b.content(r))) &&
        (negative == null || SQLOrderingUtil.compareFloats(b.dot(r, negative), threshold) <= 0)
    }
  }
}

/** Where/how a collection's rows live on disk (parquet + metadata sidecar). */
trait CollectionPersistence {
  def write(df: DataFrame): Unit
  def read(spark: SparkSession): DataFrame
}



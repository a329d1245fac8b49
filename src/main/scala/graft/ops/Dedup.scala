package graft.ops

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.HashFunctions.{hamming64, minhash_signature, simhash64}
import graft.functions.VectorFunctions.cosine_sim

/**
 * Deduplication for training-data pipelines, all expressed as declarative
 * Spark plans.
 *
 * Scale notes (the whole point of each variant):
 *  - exact: one hash-aggregate on a digest — a single shuffle of (digest,
 *    id), never the full text.
 *  - minhash LSH: signatures are a map-only per-row kernel; the only
 *    shuffle is the band-bucket self-join, whose size is governed by
 *    collision probability, not corpus².
 *  - simhash: map-only signature; candidate generation by banded equality
 *    on signature chunks (4×16-bit tables ⇒ catches Hamming≤3 dups).
 *  - wordJaccardPairs: EXACT pairwise Jaccard via token inverted index —
 *    O(Σ df(token)²); the oracle/ground-truth for the sketch variants,
 *    not the 100 TB path.
 *  - embeddingNearDup: brute pair scan at small n, LSH-prefiltered at scale.
 *
 * Every banded LSH operator finds its candidates through one helper,
 * [[bandedPairs]]: band keys explode to (band, bucket) rows, each side
 * passes `guardBuckets`, and the sides equi-join on (band, bucket). A hot
 * bucket — boilerplate-heavy shards, near-constant token streams — would
 * otherwise make candidate generation quadratic in that bucket's
 * occupancy on a single reducer. The guard counts occupancy
 * (map-side-combined agg on the 8-byte keys), drops buckets above
 * `maxBucketSize`, and LOGS the drop (bucket + row counts) so caps are
 * never silent. Oversized buckets are dominated by exact duplicates,
 * which `exact`/`exactSurvivors` catch without any pairwise join — run
 * exact dedup first and the guard only fires on adversarial
 * near-constant corpora. One banded self-join runs unguarded:
 * `Multimodal.hashNearDupPairs` passes `maxBucketSize = 0`, because its
 * DuckDB oracle replays a brute-force popcount join and so needs full
 * recall.
 */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Default per-(band, bucket) occupancy cap for banded self-joins: a
    * bucket of m rows emits m(m−1)/2 candidate pairs on ONE reducer, so
    * 10k caps the worst single-bucket cost at ~5e7 pairs. */
  val DefaultMaxBucketSize = 10000

  /** [[containmentPairs]] / [[cosineCountPairs]] degenerate-vocabulary
    * bounds: at or under these, the prefix filter provably cannot prune
    * (every term is a hub) and the operator evaluates the exact kernel
    * over all pairs in one broadcast nested-loop pass ([[denseBags]])
    * instead of materializing an all-pairs candidate set through the
    * salted prefix join. 50k docs ⇒ ≤2.5e9 combos of ≤2·64-step merges —
    * bounded map-side work; the driver builds the broadcast side, ≤ 50k
    * bags of ≤ 2·64 longs ≈ 50 MB. */
  val DenseAllPairsMaxVocab = 64L
  val DenseAllPairsMaxDocs = 50000L

  /** Salt factor for tid-keyed candidate self-joins: a small vocabulary
    * caps the join's parallelism at |vocab| (tid is the key), so salt
    * up to 4× the cluster parallelism; realistic vocabularies skip
    * salting entirely — there the build-side replication would BE the
    * cost. Shared by the cosine and containment exact tiers. */
  private[ops] def saltFactor(vocab: Long, parallelism: Long): Int =
    if (vocab >= 4L * parallelism) 1
    else math.min(64L, math.max(1L, (4L * parallelism) / vocab)).toInt

  /** Broadcast-hint a packed-bag frame when its true measured size fits
    * the 256 MB bound (checkpointed-RDD stats inherit inflated
    * estimates, so the planner can't decide this itself — see the
    * cosineCountPairs Scaladoc for the measured 5 GB shuffle the hint
    * prevents). Null-safe: an EMPTY bag frame (no tokens anywhere)
    * aggregates sum(size) to null and must not NPE — it broadcasts
    * trivially. Shared by the cosine and containment exact tiers. */
  private[ops] def maybeBroadcastBags(bags: DataFrame): DataFrame = {
    val s = bags.agg(count(lit(1)), sum(size(col("bag")))).head()
    val bagBytes =
      if (s.isNullAt(1)) 0L else s.getLong(0) * 32L + s.getLong(1) * 16L
    if (bagBytes <= (256L << 20)) broadcast(bags) else bags
  }

  /** Exact term dictionary of both prefix tiers: (tok, df, tid), tid a
    * checkpointed snapshot of monotonically_increasing_id — distinct
    * 8-byte ids for everything downstream, NOT a hash (collisions would
    * silently merge terms and break exactness). */
  private def termDict(toks: DataFrame): DataFrame =
    toks.groupBy("tok").agg(count(lit(1)).as("df"))
      .withColumn("tid", monotonically_increasing_id())
      .localCheckpoint(true)

  /**
   * Dense tier of both exact all-pairs operators: the packed bags of
   * `toks` — `(doc, tok)` per input row and distinct term for
   * [[containmentPairs]], per token occurrence for [[cosineCountPairs]]
   * (`weighted`); lazily checkpointed, so job 1 materializes it for either
   * tier — or None past `denseMaxVocab` terms or `denseMaxDocs` docs, a
   * doc counted once per task holding it (never more than the input's
   * rows). Job 1 sends per task ≤ `denseMaxVocab` + 1 distinct tokens and
   * its doc count; only within both bounds does job 2 send per doc its
   * term counts (term ids in sorted-token order): ≤ `denseMaxDocs` docs of
   * `denseMaxVocab` longs in all, never text. Docs are keyed as Spark's
   * aggregation keys them, so a repeated id's counts sum across tasks as
   * groupBy("doc") sums them. Bags: [tid, 1, …] once per count with `n`
   * (packed dot = |A∩B|), or [tid, tf, …] with `n2` = Σ tf², as a local
   * frame the nested-loop join scans on up to defaultParallelism tasks and
   * broadcasts as it is.
   */
  private def denseBags(
      toks: DataFrame,
      denseMaxVocab: Long,
      denseMaxDocs: Long,
      weighted: Boolean): Option[DataFrame] = {
    // an empty vocabulary counts as one term
    if (denseMaxVocab < 1) return None
    val cap = math.min(denseMaxVocab, Int.MaxValue - 1L).toInt
    val doc = toks.schema("doc")
    // the id normalized as a grouping key (-0.0, NaN), compared by bytes
    def docKey() = UnsafeProjection.create(Seq(
      ColumnBridge.groupingKey(BoundReference(0, doc.dataType, doc.nullable))))
    val rows = toks.select(col("doc"), col("tok")).queryExecution.toRdd
    val probe = rows.mapPartitions { it =>
      val key = docKey()
      val terms = mutable.HashSet.empty[UTF8String]
      val docs = mutable.HashSet.empty[UnsafeRow]
      while (it.hasNext && terms.size <= cap) {
        val r = it.next()
        docs += key(r).copy()
        terms += r.getUTF8String(1).clone()
      }
      Iterator((terms.map(_.toString).toArray, docs.size.toLong))
    }.collect()
    val vocab = probe.flatMap(_._1).distinct.sorted
    if (vocab.length > cap || probe.map(_._2).sum > denseMaxDocs) return None
    val parts = rows.mapPartitions { it =>
      val key = docKey()
      val tid = vocab.map(UTF8String.fromString).zipWithIndex.toMap
      val docs = mutable.HashMap.empty[UnsafeRow, Array[Long]]
      for (r <- it) docs.getOrElseUpdate(key(r).copy(), new Array[Long](vocab.length))(
        tid(r.getUTF8String(1))) += 1
      docs.iterator
    }.collect()
    val counts = mutable.LinkedHashMap.empty[UnsafeRow, Array[Long]]
    for ((k, c) <- parts; i <- c.indices)
      counts.getOrElseUpdate(k, new Array[Long](c.length))(i) += c(i)
    val toId = CatalystTypeConverters.createToScalaConverter(doc.dataType)
    val bags = counts.toSeq.map { case (k, c) =>
      val bag = c.indices.flatMap(i =>
        if (weighted) (if (c(i) > 0) Seq(i.toLong, c(i)) else Nil)
        else Seq.fill(c(i).toInt)(Seq(i.toLong, 1L)).flatten)
      Row(toId(k.get(0, doc.dataType)), bag.toArray,
        if (weighted) c.map(x => x * x).sum else c.sum)
    }
    Some(toks.sparkSession.createDataFrame(bags.asJava, StructType(Seq(doc,
      StructField("bag", ArrayType(LongType, containsNull = false), nullable = false),
      StructField(if (weighted) "n2" else "n", LongType, nullable = weighted)))))
  }

  /**
   * Bucket-skew guard for [[bandedPairs]]. `banded` must carry `band` and
   * `bucket` columns (other columns pass through). Buckets with more than
   * `maxBucketSize` rows are removed before the join and the drop is
   * logged (never silent). `maxBucketSize <= 0` disables the guard.
   *
   * The anti-join against the oversized-bucket set is unconditional (an
   * empty build side keeps every row, so the no-skew result is
   * bit-identical), which puts the occupancy aggregate inside the main
   * action's broadcast build instead of a separate stats job per guard.
   * A drop stays loud through an `observe()` metric on the oversized set
   * plus a QueryExecutionListener that WARNs whenever an action observes
   * a non-empty drop ([[GuardMetrics]]). The aggregate runs against the
   * caller's checkpointed signature frame (`cached` is an eager
   * localCheckpoint), so the broadcast build re-scans in-memory blocks,
   * not the corpus.
   */
  private def guardBuckets(
      banded: DataFrame,
      maxBucketSize: Int,
      op: String): DataFrame = {
    if (maxBucketSize <= 0) return banded
    GuardMetrics.register(banded.sparkSession)
    val over = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > maxBucketSize)
      .observe(s"${GuardMetrics.Prefix}$op",
        count(lit(1)).as("nb"),
        coalesce(sum(col("__bsz")), lit(0L)).as("nr"),
        lit(maxBucketSize.toLong).as("cap"))
    banded.join(broadcast(over.select("band", "bucket")),
      Seq("band", "bucket"), "left_anti")
  }

  /** One side of a [[bandedPairs]] join: `df` carries the `doc` id,
    * `keys` holds one bucket-key column per band over `df`'s columns, and
    * `op` names the side's guard in [[GuardMetrics]]. */
  private[graft] case class BandSide(df: DataFrame, keys: Seq[Column], op: String)

  /**
   * The candidate stage of every banded LSH operator: each side's keys
   * explode to (band, bucket) rows, pass [[guardBuckets]] under the
   * side's op name, and the sides equi-join on (band, bucket). A
   * self-join (`b` empty) keeps `a.doc < b.doc`. Candidates travel as id
   * pairs only — payloads never ride the join; [[withPayload]]
   * re-attaches them for verification. Returns distinct (id_a, id_b);
   * `distinct = false` skips that aggregate for a caller whose pairs
   * cannot repeat (one band over unique ids).
   */
  private[graft] def bandedPairs(a: BandSide, b: Option[BandSide],
      maxBucketSize: Int, distinct: Boolean = true): DataFrame = {
    def banded(s: BandSide): DataFrame = guardBuckets(s.keys match {
      case Seq(k) => s.df.select(col("doc"), lit(0).as("band"), k.as("bucket"))
      case ks => s.df.select(col("doc"),
        posexplode(array(ks: _*)).as(Seq("band", "bucket")))
    }, maxBucketSize, s.op)
    val self = banded(a)
    val on = col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
    val pairs = self.alias("a").join(b.fold(self)(banded).alias("b"),
        if (b.isEmpty) on && col("a.doc") < col("b.doc") else on)
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
    if (distinct) pairs.distinct() else pairs
  }

  /** Candidate pairs with each side's verify payload re-attached by id:
    * `a` and `b` carry `doc` and `payload`, which comes back as `__pa`
    * (joined on id_a) and `__pb` (on id_b). */
  private[graft] def withPayload(
      pairs: DataFrame, payload: String, a: DataFrame, b: DataFrame): DataFrame =
    pairs
      .join(a.select(col("doc").as("id_a"), col(payload).as("__pa")), Seq("id_a"))
      .join(b.select(col("doc").as("id_b"), col(payload).as("__pb")), Seq("id_b"))

  /** `bands` bucket keys over a 64-bit signature: band i is bits
    * [i·width, (i+1)·width). */
  private[graft] def bitBands(sig: Column, bands: Int, width: Int): Seq[Column] = {
    val mask = if (width == 64) -1L else (1L << width) - 1
    (0 until bands).map(i => shiftrightunsigned(sig, i * width).bitwiseAND(lit(mask)))
  }

  /** Values per band when a `total`-value signature splits into `bands`
    * equal bands. Every bands-taking operator calls this first, so a
    * non-positive `bands` fails before any job (and before the `%`). */
  private def bandWidth(total: Int, bands: Int, what: String): Int = {
    require(bands > 0, s"bands must be > 0, got $bands")
    require(total % bands == 0, s"$what must be divisible by bands")
    total / bands
  }

  /** MinHash band keys: band i hashes signature values [i·rows, (i+1)·rows). */
  private def minhashBands(sig: Column, bands: Int, rows: Int): Seq[Column] =
    (0 until bands).map(i => xxhash64(slice(sig, i * rows + 1, rows), lit(i)))

  /** Materialize a (deterministic) signature frame once, lineage-free.
    * localCheckpoint, NOT persist: CacheManager entries live for the
    * session (each identical per-call plan re-persists the same entry —
    * the "Asked to cache already cached data" warnings — and the blocks
    * compete with every later query's memory until shutdown), while
    * checkpoint blocks are owned by the RDD and freed by the
    * ContextCleaner as soon as the caller drops the frame. The eager
    * pass it costs is the same corpus pass the guard's stats job paid
    * to fill the lazy cache. */
  private def cached(df: DataFrame): DataFrame =
    df.localCheckpoint(true)

  /** Whitespace tokens, lowercased — tokenization shared by all dup ops. */
  def tokens(textCol: Column): Column = split(lower(textCol), " ")

  /** Word w-shingles (n-grams joined by space) — classic MinHash input. */
  def shingles(textCol: Column, n: Int): Column = {
    val toks = tokens(textCol)
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Exact dedup: group identical content by md5 digest; keeps the minimum
    * id per group (deterministic winner). */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /**
   * Exact-text "what's new vs the corpus" with a BLOOM pre-filter —
   * same output as a plain anti-join on content digests, paid mostly
   * map-side: the corpus's xxhash64 text-hashes build one driver-held
   * Bloom filter (no false negatives), every batch row probes it inside
   * the scan ([[graft.functions.BloomFunctions.might_contain_long]],
   * codegen), and ONLY the might-be-dup remainder (~fpp·new + true
   * dups) enters the exact md5 anti-join. The definitely-new majority
   * never shuffles at all — the batch-ingest accelerator shape: at
   * 100 TB corpus / 1 TB nightly batch, the per-batch exchange shrinks
   * from |batch| to ~1% of it, while semantics stay EXACTLY the
   * anti-join's (the filter can only send extra rows to verification,
   * never hide one — spec- and oracle-pinned).
   *
   * `expectedItems` sizes the filter (≤0 ⇒ one corpus count; pass the
   * known corpus cardinality to skip that job). ~1.2 GB of filter per
   * 10⁹ corpus docs at fpp=0.01 — executor-broadcast-friendly far
   * beyond any driver-local alternative.
   */
  /** Build the corpus text-hash Bloom filter ONCE (one corpus pass) for
    * reuse across every batch of an ingest loop — the amortization that
    * makes [[newTextsBloom]] win: per batch only the probe scan and a
    * broadcast-pruned verify remain. */
  def buildTextBloom(
      corpus: DataFrame,
      textCol: String,
      fpp: Double = 0.01,
      expectedItems: Long = 0L): org.apache.spark.util.sketch.BloomFilter = {
    require(fpp > 0 && fpp < 1, "fpp in (0,1)")
    val n = if (expectedItems > 0) expectedItems
      else math.max(corpus.count(), 1L)
    corpus.select(xxhash64(col(textCol)).as("__h"))
      .stat.bloomFilter("__h", n, fpp)
  }

  def newTextsBloom(
      batch: DataFrame,
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      fpp: Double = 0.01,
      expectedItems: Long = 0L,
      prebuilt: Option[org.apache.spark.util.sketch.BloomFilter] = None): DataFrame = {
    val bf = prebuilt.getOrElse(
      buildTextBloom(corpus, textCol, fpp, expectedItems))
    val probed = batch.withColumn("__maybe",
      graft.functions.BloomFunctions.might_contain_long(
        xxhash64(col(textCol)), bf))
    val definitelyNew = probed.filter(!col("__maybe")).drop("__maybe")
    // verify WITHOUT a corpus-sized shuffle: the maybe-set is small by
    // the filter's contract (~fpp·new + true dups), so its digests
    // broadcast DOWN to the corpus scan as a semi-join filter, and the
    // surviving corpus digests (≤ maybe-sized) broadcast back up for
    // the anti-join — the corpus is scanned (digest column only) but
    // never shuffled, aggregated, or distinct-ed per batch
    val maybes = probed.filter(col("__maybe")).drop("__maybe")
      .withColumn("__bd", md5(col(textCol)))
    val corpusHits = corpus.select(md5(col(textCol)).as("__bd"))
      .join(broadcast(maybes.select(col("__bd")).distinct()),
        Seq("__bd"), "left_semi")
    val confirmedNew = maybes
      .join(broadcast(corpusHits), Seq("__bd"), "left_anti")
      .drop("__bd")
    definitelyNew.unionByName(confirmedNew)
  }

  /** Rows surviving exact dedup (the canonical "drop duplicates, keep
    * first-by-id" shape). Groups by the md5 DIGEST, not the text itself,
    * so the aggregation shuffle carries (16 B, id) rows — at 100 TB the
    * document bodies never leave the scan. */
  def exactSurvivors(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = df.groupBy(md5(col(textCol)).as("__fp")).agg(min(col(idCol)).as(idCol))
    df.join(keep.select(idCol), Seq(idCol), "left_semi")
  }

  /**
   * Cross-document paragraph dedup counters (the Dolma / CCNet shape:
   * a paragraph that appears verbatim in two or more DISTINCT documents
   * is boilerplate — navigation chrome, license footers, newsletter
   * prompts — and gets stripped corpus-wide). Paragraphs are
   * newline-delimited; same-document repeats alone do NOT mark a
   * paragraph duplicate (those are [[repetitionFeatures]]' concern).
   *
   * Per input row: total paragraphs, how many of them are cross-doc
   * duplicates, and the exact character split — everything downstream
   * needs to strip or weigh boilerplate.
   *
   * Scale shape: paragraphs travel as md5 DIGESTS after the scan — the
   * duplicate-key aggregate shuffles (16 B, id) pairs and the per-doc
   * rollup shuffles (id, digest, len); paragraph BODIES never leave the
   * scan (same contract as [[exactSurvivors]]). The digest frame feeds
   * two branches (dup-key set + per-doc rollup), so it is materialized
   * once via localCheckpoint; the dup-set join is a semi-join on the
   * digest, broadcast when small.
   */
  def paragraphDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String): DataFrame = {
    val paras = df
      .select(col(idCol).as("doc"),
        explode(split(col(textCol), "\n")).as("para"))
      .select(col("doc"), md5(col("para")).as("fp"),
        length(col("para")).cast("long").as("len"))
      .localCheckpoint(true)
    val dupKeys = paras.groupBy("fp")
      .agg(count_distinct(col("doc")).as("nd"))
      .filter(col("nd") >= 2).select(col("fp"))
    paras
      .join(dupKeys.withColumn("__dup", lit(true)), Seq("fp"), "left")
      .groupBy(col("doc").as("doc_id"))
      .agg(
        count(lit(1)).as("n_paragraphs"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup_paragraphs"),
        sum(when(col("__dup"), col("len")).otherwise(0L)).as("dup_chars"),
        sum(col("len")).as("paragraph_chars"))
  }

  /**
   * Boilerplate REMOVAL — the transform behind [[paragraphDuplicates]]'
   * counters (the C4 recipe: drop lines/paragraphs that repeat across
   * documents — navigation chrome, footers, license blocks — from every
   * document): returns (idCol, text, n_kept, n_removed) with the text
   * rebuilt from only the paragraphs that do NOT occur in
   * `minDocs`-or-more distinct documents, original order and newline
   * joints preserved. Same-doc repeats are kept (only CROSS-document
   * repetition marks boilerplate — matching the counters' contract).
   *
   * Scale shape: dup detection shuffles (doc, pos, md5 fp) — 16-byte
   * digests, never paragraph bodies; the drop set comes back as
   * (doc, pos) id pairs from a digest-keyed semi-join, and the single
   * text-bearing exchange is the one doc-id-keyed join that re-attaches
   * drop positions to the source rows (AQE broadcasts it when the
   * affected-doc set is small, the common case).
   */
  def removeDuplicateParagraphs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2 (cross-document repetition)")
    val paras = df.select(col(idCol).as("__doc"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__para")))
      .select(col("__doc"), col("__pos"), md5(col("__para")).as("__fp"))
    val dupKeys = paras.groupBy("__fp")
      .agg(count_distinct(col("__doc")).as("__nd"))
      .filter(col("__nd") >= minDocs).select(col("__fp"))
    val dropped = paras.join(dupKeys, Seq("__fp"), "left_semi")
      .groupBy(col("__doc"))
      .agg(collect_set(col("__pos")).as("__drop"))
    df.join(dropped, col(idCol) === col("__doc"), "left")
      .select(col(idCol),
        array_join(filter(split(col(textCol), "\n"),
          (p, i) => coalesce(!array_contains(col("__drop"), i), lit(true))),
          "\n").as("text"),
        (size(split(col(textCol), "\n")) -
          coalesce(size(col("__drop")), lit(0))).cast("long").as("n_kept"),
        coalesce(size(col("__drop")), lit(0)).cast("long").as("n_removed"))
  }

  /**
   * MinHash + LSH candidate pairs. Signature: `numHashes` minima per row
   * (map-only). Banding: `bands` bands of numHashes/bands values; docs
   * agreeing on ANY band land in the same bucket. Bucket self-join emits
   * candidate pairs; `minhashDuplicates` verifies them with the exact
   * shingle-set Jaccard (cheap: only candidates, not corpus²).
   */
  def minhashCandidates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val rows = bandWidth(numHashes, bands, "numHashes")
    // Materialize signatures once: the bucket self-join would otherwise
    // recompute the shingle+minhash scan for BOTH sides (a full corpus
    // re-read at scale). Signatures are tiny (numHashes × 8 B per doc).
    // Shingling happens INSIDE the kernel over the token array — no
    // shingle-string construction.
    val sig = cached(df.select(
      col(idCol).as("doc"),
      minhash_signature(tokens(col(textCol)), numHashes, shingleSize).as("sig")))
    bandedPairs(BandSide(sig, minhashBands(col("sig"), bands, rows),
      "minhashCandidates"), None, maxBucketSize)
  }

  /** MinHash LSH candidates verified by exact shingle-set Jaccard ≥
    * threshold. ONE corpus pass computes signatures AND distinct shingle
    * sets into the same checkpoint; banding and both sides of the
    * verification join read from it — the corpus text is never re-scanned
    * and shingles are never recomputed. */
  def minhashDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val rows = bandWidth(numHashes, bands, "numHashes")
    val sig = cached(minhashSide(df, textCol, idCol, numHashes, shingleSize))
    val pairs = bandedPairs(BandSide(sig, minhashBands(col("sig"), bands, rows),
      "minhashDuplicates"), None, maxBucketSize)
    jaccardVerify(withPayload(pairs, "__toks", sig, sig), threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Signature and distinct shingle set per doc in ONE corpus pass, so
    * banding and both sides of the verification join read the same
    * checkpoint. Shingle sets are SORTED HASH arrays (shingle_hashes) —
    * no shingle-string allocation (that pass measured ~10× the signature
    * kernel); Jaccard on candidates is then a linear merge. */
  private def minhashSide(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, shingleSize: Int): DataFrame =
    df.select(
      col(idCol).as("doc"),
      minhash_signature(tokens(col(textCol)), numHashes, shingleSize).as("sig"),
      graft.functions.HashFunctions.shingle_hashes(
        tokens(col(textCol)), shingleSize).as("__toks"))

  /** Exact shingle-set Jaccard of re-attached payloads, kept at ≥ threshold. */
  private def jaccardVerify(withToks: DataFrame, threshold: Double): DataFrame =
    withToks
      .withColumn("jaccard",
        graft.functions.HashFunctions.jaccard_sorted(col("__pa"), col("__pb")))
      .filter(col("jaccard") >= lit(threshold))
      .withColumn("jaccard", round(col("jaccard"), 4))

  /**
   * Cross-corpus MinHash dedup: near-dup pairs BETWEEN a new batch and an
   * existing corpus (the "dedup this crawl against the 100 TB training
   * set" operation — incremental ingest's core primitive; see Lee et al.
   * 2022 on cross-snapshot duplication). Same machinery as
   * `minhashDuplicates` but the banded join is batch×corpus instead of a
   * self-join: candidate volume is governed by cross-side bucket
   * collisions, the corpus is scanned exactly once (signatures +
   * shingle hashes in one cached pass per side), and the exact-Jaccard
   * verification touches candidates only. Text never shuffles — bands,
   * candidate ids, and 8-byte shingle hashes do.
   *
   * Returns (batch_id, corpus_id, jaccard) for pairs with exact shingle
   * Jaccard ≥ threshold. Both sides go through the bucket-skew guard: a
   * boilerplate bucket hot on BOTH sides would otherwise emit
   * |A∩bucket|·|B∩bucket| pairs on one reducer.
   */
  def minhashCrossCorpus(
      batch: DataFrame,
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val rows = bandWidth(numHashes, bands, "numHashes")
    val sigA = cached(minhashSide(batch, textCol, idCol, numHashes, shingleSize))
    val sigB = cached(minhashSide(corpus, textCol, idCol, numHashes, shingleSize))
    val pairs = bandedPairs(
      BandSide(sigA, minhashBands(col("sig"), bands, rows), "minhashCrossCorpus(batch)"),
      Some(BandSide(sigB, minhashBands(col("sig"), bands, rows), "minhashCrossCorpus(corpus)")),
      maxBucketSize)
    jaccardVerify(withPayload(pairs, "__toks", sigA, sigB), threshold)
      .select(col("id_a").as("batch_id"), col("id_b").as("corpus_id"), col("jaccard"))
  }

  /** Batch rows that do NOT near-duplicate any corpus document — the
    * ingest filter built on `minhashCrossCorpus` (anti-join on the pair
    * set; batch rows and their columns pass through untouched). */
  def newAgainstCorpus(
      batch: DataFrame,
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val dup = minhashCrossCorpus(batch, corpus, textCol, idCol, threshold,
      numHashes, bands, shingleSize, maxBucketSize)
      .select(col("batch_id").as(idCol)).distinct()
    batch.join(dup, Seq(idCol), "left_anti")
  }

  /**
   * SimHash near-dup candidate pairs within `maxHamming` bits, via banded
   * equality on `bands` signature chunks of 64/bands bits each (pigeonhole:
   * any pair within Hamming ≤ bands−1 shares at least one unchanged chunk
   * ⇒ full recall whenever `bands > maxHamming`). Chunks are re-hashed
   * through xxhash64 into 64-bit bucket keys so structured chunk values
   * spread uniformly over the key space — but re-hashing cannot create
   * cardinality: per band there are at most 2^(64/bands) buckets (65k at
   * bands=4), a HARD ceiling of the banding scheme itself. Average
   * occupancy is therefore n/2^(64/bands); once the corpus approaches
   * maxBucketSize·2^(64/bands) rows (~650M at the defaults) the skew
   * guard starts dropping genuinely dense buckets and recall degrades
   * LOUDLY (guardBuckets logs every drop). The at-scale levers: fewer
   * bands = wider chunks (bands=2 ⇒ 4.3e9 buckets, at the cost of
   * maxHamming ≤ 1), a coarser pre-shard (length band / lang) so each
   * shard stays under the ceiling, or the MinHash family, whose band
   * keys hash full shingle sets and scale with content entropy.
   * An xxhash64 collision can only ADD a candidate, which the exact
   * Hamming filter removes — recall is unaffected.
   */
  def simhashDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val width = bandWidth(64, bands, "64")
    require(bands > maxHamming,
      s"bands ($bands) must exceed maxHamming ($maxHamming) for full recall")
    // one signature pass; distinct (doc, sig) rows, so an id repeated
    // with the same text re-attaches one signature, not one per copy
    val sig = cached(df.select(col(idCol).as("doc"),
      simhash64(tokens(col(textCol))).as("sig")).distinct())
    val keys = bitBands(col("sig"), bands, width).zipWithIndex
      .map { case (k, q) => xxhash64(k, lit(q)) }
    withPayload(bandedPairs(BandSide(sig, keys, "simhashDuplicates"), None,
        maxBucketSize), "sig", sig, sig)
      .withColumn("hamming", hamming64(col("__pa"), col("__pb")))
      .filter(col("hamming") <= lit(maxHamming))
      .select("id_a", "id_b", "hamming")
  }

  /**
   * SimHash-prefiltered EXACT duplicates: hamming-0 banded candidates
   * verified by content-digest equality. The signature banding prunes the
   * corpus² pair space (identical token streams ⇒ identical signatures ⇒
   * guaranteed candidates); the md5-of-lowered-text equality check then
   * runs on CANDIDATES ONLY, so accidental 64-bit signature collisions
   * between different texts are removed and the output is exactly the
   * lowered-text duplicate pair set — deterministic, hence
   * oracle-checkable, unlike raw hamming-thresholded pairs. Digests (16 B)
   * ride the verification join, never the text itself.
   */
  def simhashExactDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // ONE corpus pass computes signature AND digest into the same
    // checkpoint; bucketing, the guard, and both sides of the verification
    // join read from it — the text is never re-scanned. Hamming-0 means
    // FULL-signature equality, so the bucket is the whole 64-bit signature
    // (one band, no explode) and each candidate pair appears exactly once
    // — no distinct pass. The multi-band `simhashDuplicates` remains the
    // near-dup (hamming > 0) tier.
    val base = cached(df.select(col(idCol).as("doc"),
        simhash64(tokens(col(textCol))).as("sig"),
        md5(lower(col(textCol))).as("__d")))
    withPayload(bandedPairs(BandSide(base, Seq(col("sig")), "simhashExactDuplicates"),
        None, maxBucketSize, distinct = false), "__d", base, base)
      .filter(col("__pa") === col("__pb"))
      .select("id_a", "id_b")
  }

  /**
   * EXACT pairwise word-set Jaccard ≥ threshold via token inverted index:
   * explode distinct tokens, self-join on token, count intersections,
   * derive |A∪B| = |A|+|B|−|A∩B|. Ground truth for the sketches; cost is
   * Σ df(token)² — use the MinHash path when that explodes.
   */
  def wordJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1] for prefix filtering")
    val t = df.select(col(idCol).as("doc"),
      explode(array_distinct(tokens(col(textCol)))).as("tok"))
    val sizes = t.groupBy("doc").agg(count(lit(1)).as("n"))
    // Prefix filtering (the AllPairs/PPJoin bound, Bayardo et al. 2007):
    // J(A,B) >= t implies |A∩B| >= t·|A| (since |B| >= |A∩B|), so if A
    // and B share NO token among A's first |A| − ceil(t·|A|) + 1 tokens
    // in a canonical global order, the pair cannot qualify. Ordering
    // rare-first (ascending document frequency) makes prefixes collide
    // as little as possible. A naive inverted-index self-join is
    // Σ_tok df² — quadratic in the df of stopword-class tokens; the
    // prefix join touches only each doc's ~(1−t)·n rarest tokens, whose
    // df is small BY CONSTRUCTION, and the exact intersection count runs
    // on surviving candidates only. Output is IDENTICAL to the full
    // join: the filter only removes pairs provably below threshold.
    val dfreq = t.groupBy("tok").agg(count(lit(1)).as("df"))
    val ranked = t.join(dfreq, Seq("tok"))
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc"))
          .orderBy(col("df"), col("tok"))))
      .join(sizes, Seq("doc"))
    val prefix = ranked
      .filter(col("rank") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select(col("doc"), col("tok"))
    val cand = prefix.alias("a").join(prefix.alias("b"),
        col("a.tok") === col("b.tok") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()
    // Exact verify on candidates via the sorted-hash merge kernel (the
    // minhashDuplicates discipline): each side joins ONE packed array
    // per doc and the intersection is a linear merge — the previous
    // re-explode formulation (candidates × per-doc tokens into a hash
    // aggregate) is exactly the shape containmentPairs' doc records as
    // OOMing a 24 GB heap on degenerate vocabularies. Arithmetic is
    // identical: jaccard_sorted computes inter/(|A|+|B|−inter) over
    // sorted distinct per-token hashes (shingle size 1 ⇒ one xxhash64
    // per token; a 64-bit collision could only merge two tokens, the
    // same accepted negligible as every hash-keyed dedup op here).
    val toksArr = df.select(col(idCol).as("doc"),
      graft.functions.HashFunctions.shingle_hashes(
        tokens(col(textCol)), 1).as("__toks"))
    cand
      .join(toksArr.select(col("doc").as("id_a"), col("__toks").as("__ta")), Seq("id_a"))
      .join(toksArr.select(col("doc").as("id_b"), col("__toks").as("__tb")), Seq("id_b"))
      .withColumn("jaccard",
        graft.functions.HashFunctions.jaccard_sorted(col("__ta"), col("__tb")))
      .filter(col("jaccard") >= lit(threshold))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /**
   * DIRECTED containment pairs `C(A→B) = |A∩B|/|A| ≥ p/q` over distinct
   * word sets — the asymmetric near-dup signal (quotes, excerpts,
   * boilerplate supersets) that symmetric Jaccard misses: a short doc
   * fully contained in a long one has low Jaccard but containment 1.
   * The threshold is decided exactly (`inter·q ≥ p·|A|`, integers only)
   * and the reported `containment_e6` is an integer floor — no float
   * decides or renders anything.
   *
   * Scale shape — the asymmetric AllPairs bound: C ≥ t needs
   * `|A∩B| ≥ t·|A|`, so one of A's `⌊(1−t)·|A|⌋+1` RAREST tokens
   * (global ascending-df order, the [[wordJaccardPairs]] ranking) must
   * occur in B; candidates = A-prefix ⋈ FULL token index (B is the
   * containing side, so it cannot be prefix-pruned). Verification is
   * the [[cosineCountPairs]] bag discipline, NOT a token re-explode:
   * each doc's distinct term ids travel as ONE sorted packed array, the
   * candidate→bag joins broadcast when the bag frame is small, and
   * |A∩B| is one sorted-merge kernel ([[graft.functions.BagCos]], tf≡1
   * so the packed dot IS the intersection size) per candidate — the
   * earlier candidate⋈index⋈index formulation materialized
   * |candidates|·|A| rows into a hash aggregate and OOM'd a 24 GB heap
   * at 50k docs / 25M candidates, where this shape streams. Token
   * strings shuffle only through the dictionary build (one distinct
   * (doc, tok) aggregate + the df-rank window); everything downstream
   * — candidates, bags, verify — runs on 8-byte term ids. Small
   * vocabularies cap the candidate join's parallelism at |vocab|, so
   * the probe side salts exactly as the cosine tier does; DEGENERATE
   * vocabularies (≤ [[DenseAllPairsMaxVocab]], where the prefix filter
   * provably cannot prune) skip candidate materialization entirely and
   * stream packed set-bags through a broadcast nested-loop join whose
   * condition is the exact integer containment test — the
   * [[cosineCountPairs]] dense tier ([[denseBags]]), directed (all
   * ordered pairs).
   */
  def containmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      thresholdP: Long,
      thresholdQ: Long): DataFrame =
    containmentPairs(df, textCol, idCol, thresholdP, thresholdQ,
      DenseAllPairsMaxVocab, DenseAllPairsMaxDocs)

  /** Path-forcing variant for tests (the cosineCountPairs convention):
    * `denseMaxVocab = 0` pins the prefix-join tier, oversized bounds pin
    * the dense tier — both must produce identical output. */
  private[graft] def containmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      thresholdP: Long,
      thresholdQ: Long,
      denseMaxVocab: Long,
      denseMaxDocs: Long): DataFrame = {
    require(thresholdP > 0 && thresholdQ > 0 && thresholdP <= thresholdQ,
      "threshold p/q must be in (0, 1]")
    val spark = df.sparkSession
    // distinct (doc, tok) per input row feeds the dense tier, dict and
    // ranked — checkpointed once, by the first job over it
    val t = df.select(col(idCol).as("doc"),
        explode(array_distinct(tokens(col(textCol)))).as("tok"))
      .localCheckpoint(false)
    // Degenerate-vocabulary fast path (cosineCountPairs' guard): every
    // term is a hub, so candidates ≈ ALL ordered pairs and materializing
    // them is pure overhead (16.4 s at sf0.1's 31-word corpus, ~2 s
    // dense). The broadcast nested-loop condition IS the exact integer
    // containment test; containment is DIRECTED, so all ordered pairs
    // evaluate (a ≠ b), not the id_a < id_b half.
    val dense = denseBags(t, denseMaxVocab, denseMaxDocs, weighted = false)
    if (dense.nonEmpty) {
      val bags = dense.get
      return bags.alias("a").join(broadcast(bags.alias("b")),
          col("a.doc") =!= col("b.doc") &&
          graft.functions.BagCos.packed_bag_dot(col("a.bag"), col("b.bag"))
            * lit(thresholdQ) >= lit(thresholdP) * col("a.n"))
        .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"),
          graft.functions.BagCos.packed_bag_dot(col("a.bag"), col("b.bag"))
            .as("inter"),
          col("a.n").as("na"))
        .select(col("id_a"), col("id_b"),
          expr("(inter * 1000000) div na").as("containment_e6"))
    }
    val dict = termDict(t)
    val vocab = math.max(1L, dict.count())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("df"), col("tok"))
    // n (distinct-set size) via an unbounded frame over the same window
    // spec — one exchange + sort serve both rank and n, no sizes join
    val ranked = t.join(dict, Seq("tok"))
      .withColumn("n", count(lit(1)).over(
        w.rowsBetween(Long.MinValue, Long.MaxValue)))
      .withColumn("rank", row_number().over(w))
      .select(col("doc"), col("tid"), col("n"), col("rank"))
      .localCheckpoint(true)
    // prefix bound decided in integers: rank ≤ n − ⌈p/q·n⌉ + 1, with
    // ⌈p·n/q⌉ = (p·n + q − 1) div q — no double touches the cutoff
    val prefix = ranked
      .filter(col("rank") * lit(thresholdQ) <=
        col("n") * lit(thresholdQ) -
          (col("n") * lit(thresholdP) + lit(thresholdQ - 1) -
            pmod(col("n") * lit(thresholdP) + lit(thresholdQ - 1),
              lit(thresholdQ))) + lit(thresholdQ))
      .select(col("doc"), col("tid"))
    // (no checkpoint: unlike the cosine tier — where the prefix frame
    // feeds BOTH sides of its self-join — this prefix has exactly one
    // consumer, and lineage is already cut at the checkpointed `ranked`)
    // candidate join parallelism is capped at |vocab| (tid is the key):
    // salt the probe side when the vocabulary is degenerate, mirror of
    // the cosine tier's guard — every pair still produced exactly once
    val nSalt = saltFactor(vocab, spark.sparkContext.defaultParallelism.toLong)
    val probe = prefix
      .withColumn("__s", pmod(xxhash64(col("doc")), lit(nSalt.toLong)))
    val build = ranked.select(col("doc").as("bdoc"), col("tid"))
      .withColumn("__s",
        explode(array((0 until nSalt).map(s => lit(s.toLong)): _*)))
    val cand = probe.alias("a").join(build.alias("b"),
        col("a.tid") === col("b.tid") && col("a.__s") === col("b.__s") &&
        col("a.doc") =!= col("b.bdoc"))
      .select(col("a.doc").as("id_a"), col("b.bdoc").as("id_b"))
      .distinct()
    // one sorted packed [tid, 1, …] bag per doc: with tf ≡ 1 the
    // packed-bag dot is EXACTLY |A∩B|
    val bags = ranked.groupBy("doc").agg(
        sort_array(collect_list(col("tid"))).as("__st"),
        count(lit(1)).as("n"))
      .withColumn("bag", flatten(transform(col("__st"), x => array(x, lit(1L)))))
      .select(col("doc"), col("bag"), col("n"))
      .localCheckpoint(true)
    // broadcast the bag side under the cosine tier's measured bound so
    // candidates stream map-side through both probes (checkpointed-RDD
    // stats inherit inflated estimates — the hint is load-bearing)
    val bagsJ = maybeBroadcastBags(bags)
    cand
      .join(bagsJ.select(col("doc").as("id_a"), col("bag").as("__ba"),
        col("n").as("na")), Seq("id_a"))
      .join(bagsJ.select(col("doc").as("id_b"), col("bag").as("__bb")),
        Seq("id_b"))
      .withColumn("inter",
        graft.functions.BagCos.packed_bag_dot(col("__ba"), col("__bb")))
      .filter(col("inter") * lit(thresholdQ) >= lit(thresholdP) * col("na"))
      .select(col("id_a"), col("id_b"),
        expr("(inter * 1000000) div na").as("containment_e6"))
  }

  /**
   * EXACT all-pairs bag-of-words cosine similarity ≥ threshold — the
   * weighted sibling of [[wordJaccardPairs]] (term frequencies instead of
   * set membership), after the AllPairs algorithm of Bayardo, Ma &
   * Srikant, "Scaling Up All Pairs Similarity Search" (WWW 2007).
   *
   * Completeness argument for the prefix filter: order each document's
   * terms canonically (ascending global document frequency, then term).
   * Let P(A) be the shortest prefix whose complement S(A) = A∖P(A)
   * satisfies ‖S(A)‖ < t·‖A‖. If a pair (A,B) shares no term in P(A),
   * every shared term lies in S(A), so by Cauchy–Schwarz
   * dot(A,B) ≤ ‖S(A)‖·‖B‖ < t·‖A‖·‖B‖ — the pair cannot qualify.
   * Hence every qualifying pair shares a term in P(A) or in P(B), and a
   * prefix-vs-full inverted-index join in each direction finds them all;
   * the exact dot product then runs on surviving candidates only.
   *
   * The argument applies in BOTH directions, so a qualifying pair shares
   * a term in P(A) *and* one in P(B) — candidates come from the
   * prefix-vs-prefix self-join, not prefix-vs-full.
   *
   * Scale shape: the naive inverted-index self-join is Σ_term df² —
   * quadratic in the df of stopword-class terms. Rare-first ordering
   * keeps hub terms OUT of prefixes (they carry the bulk of every
   * document's squared mass, so they land in the suffix), making the
   * candidate join Σ_term df_prefix(term)² with df_prefix ≈ 0 for hubs.
   * Verification never explodes tokens: each doc's term counts are
   * carried as ONE map column (bag size ≈ doc length, not corpus), the
   * candidate→bag join is broadcastable when the bag frame is small and
   * a plain shuffle join otherwise, and the exact dot product is a
   * per-row `map_zip_with`+`aggregate` over the two bags — so the
   * post-candidate cost is O(|candidates| · doc length) map-side work
   * with zero token-level shuffles. On an adversarial corpus whose
   * vocabulary is too small to prune (every doc shares every term) the
   * candidate set degenerates toward all-pairs — that is the true
   * verification complexity of *exact* all-pairs similarity, not a plan
   * artifact — and the operator detects the degeneracy up front
   * (vocab ≤ [[DenseAllPairsMaxVocab]], docs ≤ [[DenseAllPairsMaxDocs]])
   * and switches to a broadcast nested-loop pass that evaluates the
   * kernel on pairs directly instead of materializing them as join
   * output; [[denseBags]], shared with [[containmentPairs]], builds its
   * bags on the driver (≤ 50k of ≤ 2·64 longs, ≈ 50 MB) without a
   * shuffle. The sketch variants (minhash/simhash/embedding LSH) remain
   * the 100 TB recall path and this operator is their exact oracle.
   *
   * All threshold tests are exact integer arithmetic: the threshold is
   * interpreted as the exact rational round(t·1e6)/1e6 and compared by
   * cross-multiplication in decimal(38,0) — no double ever decides
   * membership, so results are bit-stable across engines.
   *
   * Output: (id_a, id_b, dot, na2, nb2) with id_a < id_b — the exact
   * integer dot product and squared norms (cos = dot/√(na2·nb2)).
   */
  def cosineCountPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double): DataFrame =
    cosineCountPairs(df, textCol, idCol, threshold,
      DenseAllPairsMaxVocab, DenseAllPairsMaxDocs)

  /** Path-forcing variant for tests: `denseMaxVocab = 0` pins the
    * prefix-join tier regardless of corpus shape, oversized bounds pin
    * the dense tier — both must produce identical output. */
  private[graft] def cosineCountPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      denseMaxVocab: Long,
      denseMaxDocs: Long): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1] for prefix filtering")
    // exact rational handle: t = p / 1e6
    val p = math.round(threshold * 1e6)
    val q = 1000000L
    val dec = "decimal(38,0)"
    // one row per token occurrence, in the input's partitions: the dense
    // tier counts them per doc, the prefix tier aggregates them into tf
    val occ = df
      .select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("tok"))
      .localCheckpoint(false)
    // Degenerate-vocabulary fast path: when every term is a hub the
    // candidate set degenerates to ≈ all pairs (sf0.1's 31-word corpus:
    // 8.9 s of candidate-join machinery ahead of a 0.5 s verify), so the
    // nested-loop condition IS the exact kernel, each unordered pair once
    // (id_a < id_b short-circuits ahead of the merge). On any REALISTIC
    // vocabulary the prefix path wins (SURVEY §8's 20k-word smoke).
    val dense = denseBags(occ, denseMaxVocab, denseMaxDocs, weighted = true)
    if (dense.nonEmpty) {
      val bags = dense.get
      return bags.alias("a")
        .join(broadcast(bags.alias("b")),
          col("a.doc") < col("b.doc")
            && graft.functions.BagCos.packed_bag_cos_ge(
              col("a.bag"), col("b.bag"), col("a.n2"), col("b.n2"), p, q))
        .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"),
          graft.functions.BagCos.packed_bag_dot(col("a.bag"), col("b.bag"))
            .as("dot"),
          col("a.n2").as("na2"), col("b.n2").as("nb2"))
    }
    // tf feeds dfreq, norms, the ranked window and bags — checkpointed
    // once, by the dict's job
    val tf = occ.groupBy("doc", "tok").agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val dict = termDict(tf)
    val vocab = math.max(1L, dict.count())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("df"), col("tok"))
    // cumBefore = squared mass of terms strictly rarer than this rank;
    // rank r belongs to the prefix iff the suffix starting AT r still
    // carries ≥ t of the norm: q²·(n2 − cumBefore) ≥ p²·n2  (exact).
    // n2 comes from an unbounded frame over the SAME window spec — one
    // exchange + one sort serve both, no separate norms agg/join.
    // checkpointed: BOTH prefix and bags derive from ranked — without
    // the barrier each re-runs the dict join + window sort
    val ranked = tf.join(dict, Seq("tok"))
      .withColumn("n2",
        sum(col("tf") * col("tf")).over(
          w.rowsBetween(Long.MinValue, Long.MaxValue)))
      .withColumn("__cumBefore",
        coalesce(sum(col("tf") * col("tf")).over(
          w.rowsBetween(Long.MinValue, -1)), lit(0L)))
      .localCheckpoint(true)
    // the self-join below would otherwise re-evaluate the whole
    // tf→window chain once per side (and `bags` a third time) — these
    // frames are tiny (≈ distinct (doc, tok) prefix rows / one row per
    // doc), so materialize them once; localCheckpoint, not persist:
    // blocks die with the RDD, nothing leaks into the CacheManager
    val prefix = ranked
      .filter(lit(q * q).cast(dec) * (col("n2") - col("__cumBefore")).cast(dec)
        >= lit(p * p).cast(dec) * col("n2").cast(dec))
      .select(col("doc"), col("tid"))
      .localCheckpoint(true)
    // qualifying pairs share a prefix term in each direction ⇒ the
    // prefix-vs-prefix join is complete (see Scaladoc).
    //
    // Small-vocab corpora cap this join's parallelism at |vocab| — a
    // 31-term corpus runs 23M pair emissions on 31 tasks no matter how
    // many cores exist, and no AQE skew split fires because the INPUT
    // partitions are tiny (it is the join's output that explodes).
    // When vocab < 4×parallelism, salt: the probe side keys each row by
    // hash(doc) mod R, the build side replicates ×R — every pair is
    // still produced exactly once, parallelism becomes vocab×R, and the
    // replicated frame is (doc, tid) pairs on a corpus whose vocabulary
    // is by definition tiny. Large-vocab corpora (the normal case) skip
    // salting entirely — there the replication would be the cost.
    val nSalt = saltFactor(vocab,
      df.sparkSession.sparkContext.defaultParallelism.toLong)
    // emit-once guard: each prefix row carries its doc's SORTED prefix
    // token-id array (attached by a window over the doc partitioning the
    // prefix filter already has — no join), and the self-join accepts a
    // pair only on the FIRST tid the two prefixes share. A pair sharing
    // k prefix terms would otherwise be emitted k times (measured ~3.3×
    // here) and pay the bag probes + verify kernel k times; the guard is
    // a ~prefix-length primitive merge evaluated inside the join
    // condition, far cheaper than the duplicate verifications it kills.
    val wp = org.apache.spark.sql.expressions.Window.partitionBy(col("doc"))
    val prefixed = prefix
      .withColumn("pp", sort_array(collect_list(col("tid")).over(
        wp.rowsBetween(Long.MinValue, Long.MaxValue))))
    val probe = prefixed
      .withColumn("__s", pmod(xxhash64(col("doc")), lit(nSalt.toLong)))
    val build = prefixed.withColumn("__s",
      explode(array((0 until nSalt).map(s => lit(s.toLong)): _*)))
    val cand = probe.alias("a")
      .join(build.alias("b"),
        col("a.tid") === col("b.tid") && col("a.__s") === col("b.__s")
          && col("a.doc") < col("b.doc")
          && col("a.tid") === graft.functions.BagCos.first_common_long(
            col("a.pp"), col("b.pp")))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
    // one id-sorted bag per doc, PACKED as flat [tid, tf, …] longs
    // (BagCos Scaladoc: the struct layout costs two UnsafeRow view
    // allocations per element per candidate in the merge kernel); the
    // flatten HOF is interpreted but runs once per DOC, not per pair
    val bags = ranked.groupBy("doc").agg(
      sort_array(collect_list(struct(col("tid"), col("tf")))).as("__sb"),
      sum(col("tf") * col("tf")).as("n2"))
      .withColumn("bag",
        flatten(transform(col("__sb"), s => array(s("tid"), s("tf")))))
      .drop("__sb")
      .localCheckpoint(true)
    // Candidates outnumber docs by orders of magnitude (they are pairs),
    // so the bag side is the small one — but the planner can't see that:
    // checkpointed-RDD stats inherit the pre-checkpoint ESTIMATE, which
    // for an explode→agg chain is inflated enough that AQE keeps
    // sort-merge joins and shuffles every candidate with its ~doc-length
    // bag attached (measured: 5 GB shuffled, 7× the whole operator's
    // budget). One cheap agg over the checkpointed frame measures the
    // true size; under the maybeBroadcastBags bound the bag side
    // broadcasts and candidates
    // stream map-side through both probes + the verify predicate without
    // ever shuffling a bag. Above that bound (≫10⁷ docs) the hint is
    // skipped — at that scale this exact-oracle operator is the wrong
    // tool anyway (see Scaladoc: the sketch tiers are the recall path).
    // packed long arrays: 8 B per element + ~row overhead; the hashed
    // relation roughly doubles that. 256 MB of bags (~10⁶ docs of ~100
    // distinct terms) is comfortably broadcastable on any executor
    // sized for shuffle-heavy work; beyond it the candidate side is
    // astronomically large and this exact tier is the wrong tool.
    val bagsJ = maybeBroadcastBags(bags)
    // exact verification in ONE kernel per candidate: the predicate
    // computes the sorted-merge dot once and decides q²·dot² ≥ p²·na2·nb2
    // with a double fast-path + BigInteger fallback (BagCos Scaladoc).
    // The previous composed form (projected dot, decimal cross-multiply
    // filter) was inlined into the join condition by Catalyst and
    // evaluated the merge TWICE plus four decimal(38,0) products per
    // candidate — 8× slower on an adversarial small-vocab corpus where
    // candidates ≈ all pairs. Survivors (output-sized, tiny) recompute
    // the dot for the result projection.
    cand
      .join(bagsJ.select(col("doc").as("id_a"), col("bag").as("__ba"),
        col("n2").as("na2")), Seq("id_a"))
      .join(bagsJ.select(col("doc").as("id_b"), col("bag").as("__bb"),
        col("n2").as("nb2")), Seq("id_b"))
      .filter(graft.functions.BagCos.packed_bag_cos_ge(
        col("__ba"), col("__bb"), col("na2"), col("nb2"), p, q))
      .select(col("id_a"), col("id_b"),
        graft.functions.BagCos.packed_bag_dot(col("__ba"), col("__bb"))
          .as("dot"),
        col("na2"), col("nb2"))
      // the first-common-tid guard makes emission exactly-once, so this
      // distinct is a safety net over OUTPUT-sized rows (every column is
      // deterministic per pair) — never the corpus-pair-sized exchange
      // that distinct-ing the raw candidate set cost
      .distinct()
  }

  /**
   * Test-set contamination: for each document in `test`, the fraction of
   * its distinct word n-grams that also occur ANYWHERE in `train` — the
   * standard decontamination signal (drop or flag test docs with high
   * overlap before evaluation, or train docs that leak benchmarks).
   *
   * Scale shape: n-grams travel as 64-bit hashes (shingle_hashes — no
   * n-gram strings materialized); the train side is one distinct of
   * hashes; the test side joins against it on the hash — two shuffles
   * total, both on 8-byte keys, never on text.
   */
  def ngramContamination(
      train: DataFrame,
      test: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8): DataFrame = {
    import graft.functions.HashFunctions.shingle_hashes
    val trainGrams = train
      .select(explode(shingle_hashes(tokens(col(textCol)), n)).as("g"))
      .distinct()
    val testGrams = test.select(col(idCol).as("test_id"),
        explode(shingle_hashes(tokens(col(textCol)), n)).as("g"))
    val totals = testGrams.groupBy("test_id").agg(count(lit(1)).as("n_grams"))
    val hits = testGrams.join(trainGrams, Seq("g"), "left_semi")
      .groupBy("test_id").agg(count(lit(1)).as("n_hits"))
    totals.join(hits, Seq("test_id"), "left")
      .select(col("test_id"), col("n_grams"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_grams"), 4).as("contamination"))
  }

  /**
   * Benchmark-leak flags for TRAINING documents: for each train doc, how
   * many of its distinct word n-grams occur anywhere in the benchmark/
   * test corpus — the mirror of `ngramContamination` (there the per-doc
   * score lands on the TEST side; here it lands on the TRAIN side, the
   * direction used to DROP leaking training docs before a run).
   *
   * Scale shape — the asymmetry is the point: benchmarks are tiny next
   * to a 100 TB corpus, so the test gram set BROADCASTS and the train
   * side probes it map-side (one broadcast-left-join inside the scan
   * stage). Train grams never shuffle at all — the single exchange
   * carries per-doc (n_grams, n_hits) aggregate rows. Compare
   * `ngramContamination`, which must shuffle the big side's grams to
   * build the distinct probe set; semantics here equal
   * `ngramContamination(test, train)` with the sides swapped (pinned in
   * DedupSpec), only the physical plan differs.
   */
  def benchmarkLeaks(
      train: DataFrame,
      test: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8): DataFrame = {
    import graft.functions.HashFunctions.shingle_hashes
    val testGrams = test
      .select(explode(shingle_hashes(tokens(col(textCol)), n)).as("g"))
      .distinct()
      .withColumn("__hit", lit(1))
    val trainGrams = train.select(col(idCol).as("train_id"),
      explode(shingle_hashes(tokens(col(textCol)), n)).as("g"))
    trainGrams
      .join(broadcast(testGrams), Seq("g"), "left")
      .groupBy("train_id")
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
      .select(col("train_id"), col("n_grams"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_grams"), 4).as("leak_frac"))
  }

  /**
   * Corpus-level overlap ESTIMATE between two corpora by KMV set
   * sketches (Beyer et al. 2007, "On synopses for distinct-value
   * estimation under multiset operations") — the one-pass answer to
   * "how much does the new crawl overlap the old corpus?" BEFORE paying
   * any cross-corpus join: each side's distinct word-n-gram set reduces
   * to its k smallest 60-bit md5 hashes ([[graft.functions.KmvSet]]),
   * and union/intersection/Jaccard derive from the two sketches alone.
   *
   * Estimators (K_U = bottom-k of K_A ∪ K_B, m_U = |K_U|):
   *  - |A ∪ B| ≈ (k−1)·2⁶⁰/h_k(K_U) (exact = m_U when m_U < k),
   *  - n_both = |{h ∈ K_U : h ∈ K_A ∧ h ∈ K_B}| — sound because
   *    h ∈ K_U ∧ h ∈ S_A ⟹ h ∈ K_A (K_U's max ≤ K_A's max),
   *  - Jaccard ≈ n_both/m_U (σ ≈ √(J(1−J)/k)), |A ∩ B| ≈ J·|A ∪ B|,
   *  - CONTAINMENT: cont_a_in_b ≈ n_both / |{h ∈ K_U : h ∈ K_A}| —
   *    the K_U members drawn from A are a uniform sample of A's gram
   *    set, so the in-B fraction among them estimates |A∩B|/|A|
   *    (and symmetrically for cont_b_in_a).
   * All outputs are integers computed in exact BigInt arithmetic
   * (ratios scaled ×10⁶), so the result is bit-deterministic and
   * DuckDB-replayable end-to-end — the sketch, the union re-trim, the
   * membership counts, and the estimates.
   *
   * ASYMMETRIC-SIZE blind spot (why containment is emitted): when one
   * corpus is much smaller than the other, J = |A∩B|/|A∪B| is tiny even
   * at TOTAL overlap of the small side — jaccard_e6 and est_inter can
   * legitimately read 0 despite the small corpus being fully contained.
   * For "does this new small crawl overlap the big corpus?", read the
   * small side's containment column, whose sample size is
   * |{h ∈ K_U : h ∈ K_small}| ≈ k·|small|/|A∪B| — it shrinks as the
   * size ratio grows (σ grows accordingly), but it measures the right
   * quantity; Jaccard measures the wrong one.
   *
   * Scale shape: ONE pass per corpus — grams explode and hash inside
   * the scan, per-partition partial state ≤ k longs, the only exchange
   * carries ≤ k·8 B buffers per partition; the driver combines exactly
   * two ≤ k-long arrays (16 KiB at k=1024). Text never shuffles; no
   * cross-corpus join exists at any size. Compare [[ngramContamination]]
   * (exact, per-document, pays a gram semi-join) — this is the cheap
   * corpus-level gate you run first. Batch-vs-stored-corpus callers
   * should persist the corpus side once ([[graft.ops.KmvSketchStore]])
   * and use [[corpusOverlapKmvStored]] — then each new batch costs one
   * scan of ITSELF only.
   */
  def corpusOverlapKmv(
      a: DataFrame,
      b: DataFrame,
      textCol: String,
      n: Int = 8,
      k: Int = 1024): DataFrame =
    corpusOverlapFromSketches(a.sparkSession,
      corpusSketchKmv(a, textCol, n, k),
      corpusSketchKmv(b, textCol, n, k), k)

  /** One-pass bottom-k KMV sketch of `df`'s DISTINCT word-`n`-gram set
    * (sorted ascending, ≤ k hashes) — the reusable half of
    * [[corpusOverlapKmv]]. Per-partition state ≤ k longs, one exchange
    * of ≤ k·8 B buffers, 8 KiB result at k = 1024; persist it with
    * [[graft.ops.KmvSketchStore]] to amortize the corpus scan across
    * batches. */
  def corpusSketchKmv(
      df: DataFrame,
      textCol: String,
      n: Int = 8,
      k: Int = 1024): Array[Long] =
    corpusSketchKmvFrame(df, textCol, n, k).head().getSeq[Long](0).toArray

  /** The sketch pass as a FRAME — the single place the chain is built,
    * so the ExplainDump pseudo-entry (`kmv_sketch_pass`) dumps exactly
    * the plan [[corpusSketchKmv]] executes and cannot silently drift
    * from it (r16, VERDICT r15 advice).
    *
    * Fused gram-hash kernel (r15): tokens stay a Catalyst split/lower,
    * but the per-gram slice+concat_ws STRING chain and the explode of
    * gram strings are gone — one codegen expression emits the 60-bit
    * hashes per document and only longs explode into the aggregate.
    * Bit-identical to the explode(shingles)+kmvHash60 chain it
    * replaced (KmvShingleSpec pins the frozen chain), so the sketch,
    * the oracle, and every downstream estimate are unchanged. */
  private[graft] def corpusSketchKmvFrame(
      df: DataFrame,
      textCol: String,
      n: Int,
      k: Int): DataFrame = {
    import graft.functions.KmvDistinct
    df.select(explode(
        KmvDistinct.kmvShingleHash60(tokens(col(textCol)), n)).as("h"))
      .agg(KmvDistinct.kmv_set(col("h"), k))
  }

  /** [[corpusOverlapKmv]] of a NEW batch (side B) against a STORED
    * corpus sketch (side A, built at ingest — see
    * [[graft.ops.KmvSketchStore]]): ONE scan of the batch, zero cost on
    * the corpus side. Identical output to sketching both sides fresh
    * (the sketch is a pure function of the corpus). */
  def corpusOverlapKmvStored(
      batch: DataFrame,
      textCol: String,
      stored: KmvSketchStore.CorpusKmvSketch): DataFrame =
    corpusOverlapFromSketches(batch.sparkSession, stored.hashes,
      corpusSketchKmv(batch, textCol, stored.shingleN, stored.k), stored.k)

  /** Driver-side combine of two bottom-k sketches (each sorted, ≤ k
    * hashes, same k) into the overlap-estimate row — exact integer
    * arithmetic throughout; see [[corpusOverlapKmv]] for the
    * estimators and the containment semantics. */
  def corpusOverlapFromSketches(
      spark: org.apache.spark.sql.SparkSession,
      ka: Array[Long],
      kb: Array[Long],
      k: Int): DataFrame = {
    import graft.functions.KmvDistinct
    require(ka.length <= k && kb.length <= k,
      s"sketch sizes ${ka.length}/${kb.length} exceed k = $k")
    val kaS = ka.toSet
    val kbS = kb.toSet
    val ku = (kaS ++ kbS).toArray.sorted.take(k)
    def est(s: Array[Long]): Long =
      KmvDistinct.estimate(s.length, k, if (s.isEmpty) 0L else s.last)
    val mU = ku.length.toLong
    val nBoth = ku.count(h => kaS(h) && kbS(h)).toLong
    val nAInU = ku.count(kaS).toLong
    val nBInU = ku.count(kbS).toLong
    val estU = est(ku)
    val estI = if (mU == 0) 0L else (BigInt(nBoth) * BigInt(estU) / BigInt(mU)).toLong
    val jacE6 = if (mU == 0) 0L else (BigInt(nBoth) * 1000000 / BigInt(mU)).toLong
    def contE6(denom: Long): Long =
      if (denom == 0) 0L else (BigInt(nBoth) * 1000000 / BigInt(denom)).toLong
    import spark.implicits._
    Seq((ka.length.toLong, est(ka), kb.length.toLong, est(kb),
      mU, estU, nBoth, estI, jacE6, contE6(nAInU), contE6(nBInU)))
      .toDF("m_a", "est_a", "m_b", "est_b", "m_union", "est_union",
        "n_both", "est_inter", "jaccard_e6",
        "cont_a_in_b_e6", "cont_b_in_a_e6")
  }

  /**
   * Substring-level duplication profile (the signal behind suffix-array
   * corpus dedup, Lee et al. 2022 "Deduplicating Training Data Makes
   * Language Models Better" — public literature): for each document, how
   * many of its distinct word n-grams also occur in ANOTHER document, and
   * the fraction of its distinct grams that are shared. High-fraction docs
   * are boilerplate/template members that survive document-level exact
   * dedup because their full text differs.
   *
   * Scale shape: grams travel as 64-bit hashes (shingle_hashes — no gram
   * strings materialized); cross-document gram incidence is ONE hash
   * aggregate on 8-byte keys keeping only grams with ≥ 2 distinct docs
   * (map-side combined, output bounded by the shared-gram set); the
   * per-doc rollup is a semi-join on the hash + one count. Text never
   * shuffles. Docs shorter than `n` tokens contribute their whole token
   * stream as a single gram (same convention as `ngramContamination`).
   *
   * Cache lifecycle: the gram frame persists for the session (same
   * policy as the signature caches above) — Spark evicts it LRU under
   * memory pressure; long-lived sessions issuing many distinct
   * `duplicatedSpans` calls can clear it via `spark.catalog.clearCache`.
   */
  def duplicatedSpans(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8): DataFrame = {
    import graft.functions.HashFunctions.shingle_hashes
    val grams = cached(df.select(col(idCol).as("doc"),
      explode(shingle_hashes(tokens(col(textCol)), n)).as("g")))
    // gram → #distinct docs; each (doc, gram) is already distinct (the
    // kernel dedupes per row), so a plain count is a distinct-doc count.
    val shared = grams.groupBy("g").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2)
      .select("g")
    val totals = grams.groupBy("doc").agg(count(lit(1)).as("n_grams"))
    val hits = grams.join(shared, Seq("g"), "left_semi")
      .groupBy("doc").agg(count(lit(1)).as("n_shared"))
    totals.join(hits, Seq("doc"), "left")
      .select(col("doc").as(idCol), col("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("n_shared"), lit(0L)).cast("double") /
          col("n_grams"), 4).as("shared_frac"))
  }

  /**
   * Connected components over a candidate-pair graph: groups mutual
   * near-duplicates into clusters (a ~ b, b ~ c ⇒ {a, b, c}) so
   * survivorship can keep ONE document per cluster rather than
   * re-comparing pairs.
   *
   * Algorithm: alternating large-star/small-star (Kiveris et al.,
   * "Connected Components in MapReduce and Beyond", SoCC'14 — public
   * literature), which converges in O(log n) rounds on ANY graph shape,
   * vs O(diameter) for naive min-label propagation (a 100 TB pathological
   * chain would pay ~n rounds there). Each round touches only the EDGE
   * list — two (groupBy + co-partitioned join) passes on 16-byte rows;
   * the corpus itself is never shuffled, and the edge list is
   * collision-bounded (the candidates), not corpus². State is
   * localCheckpointed per round so lineage stays flat, and convergence is
   * detected by an order-independent (count, bit_xor of edge hashes)
   * signature computed on the already-materialized checkpoint — no extra
   * shuffle, no join-against-previous.
   *
   * Terminal state is a star forest rooted at each component's MINIMUM id,
   * so labels match the recursive min-propagation semantics exactly.
   * Throws IllegalStateException if `maxIterations` rounds don't converge
   * (never silently returns partial labels); at O(log n) rounds the
   * default 50 covers any physically storable graph.
   */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIterations: Int = 50): DataFrame =
    connectedComponentsWithStats(pairs, idA, idB, maxIterations)._1

  /** `connectedComponents` plus the number of large+small-star rounds it
    * took to converge (exposed for tests pinning the O(log n) bound). */
  def connectedComponentsWithStats(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIterations: Int = 50): (DataFrame, Int) = {
    val raw = pairs.select(col(idA).as("u"), col(idB).as("v"))
      .filter(col("u") =!= col("v"))
    val vertices = raw.select(col("u").as("id"))
      .unionByName(raw.select(col("v").as("id"))).distinct()
    var edges = raw.distinct().localCheckpoint(true)
    // Order-independent edge-set signature over the cached checkpoint:
    // bit_xor never overflows (ANSI-safe) and a differing edge set with a
    // colliding (count, xor-of-xxhash64) pair is cryptographically unlikely;
    // the alternation is monotone (total star-height potential decreases),
    // so there are no cycles for a collision to mask.
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var sig = signature(edges)
    var rounds = 0
    var converged = sig._1 == 0L
    while (!converged && rounds < maxIterations) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      edges = next
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIterations " +
          "large/small-star rounds — raise maxIterations (O(log n) rounds " +
          "suffice for any real graph; this indicates a pathological input)")
    val mapping = edges.groupBy(col("u").as("id")).agg(min(col("v")).as("component"))
    val labels = vertices.join(mapping, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    (labels, rounds)
  }

  /** Large-star: every vertex connects its LARGER neighbors to the minimum
    * of its neighborhood (including itself). One groupBy + one join, both
    * keyed on `u` — the join reuses the aggregation's hash partitioning. */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbr = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val mins = nbr.groupBy("u").agg(min("v").as("__mn"))
      .select(col("u"), least(col("__mn"), col("u")).as("__m"))
    nbr.join(mins, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("__m").as("v"))
      .distinct()
  }

  /** Small-star: every vertex connects its smaller-or-equal neighbors (and
    * itself) to the minimum of that set. Same shuffle shape as largeStar. */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val mins = dir.groupBy("u").agg(min("v").as("__m"))
    dir.join(mins, Seq("u"))
      .filter(col("v") =!= col("__m"))
      .select(col("v").as("u"), col("__m").as("v"))
      .unionByName(mins.select(col("u"), col("__m").as("v")))
      .distinct()
  }

  /**
   * Survivorship: one winner per duplicate cluster. Rows never named in
   * `pairs` survive untouched; within each component the row with the
   * highest `scoreCol` (ties → smallest id) survives. Returns the
   * surviving rows of `df`.
   */
  def survivors(
      df: DataFrame,
      pairs: DataFrame,
      idCol: String,
      scoreCol: Column): DataFrame = {
    val comp = connectedComponents(pairs)
    val scored = df.withColumn("__score", scoreCol)
    val member = scored.join(comp.withColumnRenamed("id", idCol), Seq(idCol))
    // argmax per component via the bounded-heap aggregate at k = 1:
    // ranks (score DESC, id ASC) — deterministic, map-side pre-reduced
    val winners = member
      .groupBy(col("component"))
      .agg(graft.functions.TopKAggregate.topk_rows(
        struct(col("__score"), col(idCol)), 1).as("__w"))
      .select(explode(col("__w")).as("__e"))
      .select(col("__e").getField(idCol).as(idCol))
    val nonMembers = scored.join(comp.withColumnRenamed("id", idCol),
      Seq(idCol), "left_anti")
    nonMembers.drop("__score")
      .unionByName(scored.join(winners, Seq(idCol), "left_semi").drop("__score"))
  }

  /**
   * Cross-corpus embedding near-dup pairs — the semantic twin of
   * `minhashCrossCorpus`: hyperplane-LSH signatures per side (map-only,
   * same seed ⇒ same planes), banded batch×corpus bucket join, exact
   * cosine verification on candidates only. Returns
   * (batch_id, corpus_id, cos) for pairs with cosine ≥ threshold.
   * Vectors never ride the candidate shuffle; both sides pass the
   * bucket-skew guard.
   */
  def embeddingCrossCorpusLSH(
      batch: DataFrame,
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      dim: Int,
      numPlanes: Int = 32,
      bands: Int = 4,
      seed: Long = 42L,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val side = planeSide(vecCol, idCol, dim, numPlanes, bands, seed)
    val (sigA, sigB) = (cached(side(batch)), cached(side(corpus)))
    val keys = bitBands(col("__sig"), bands, numPlanes / bands)
    cosineVerify(withPayload(bandedPairs(
        BandSide(sigA, keys, "embeddingCrossCorpusLSH(batch)"),
        Some(BandSide(sigB, keys, "embeddingCrossCorpusLSH(corpus)")),
        maxBucketSize), "__v", sigA, sigB), threshold)
      .select(col("id_a").as("batch_id"), col("id_b").as("corpus_id"), col("cos"))
  }

  /** Hyperplane-LSH side of the embedding operators: `doc`, the vector
    * `__v` (the verify payload) and its `numPlanes`-bit signature
    * `__sig`, for one frame. Validates the banding before any job. */
  private def planeSide(vecCol: String, idCol: String, dim: Int,
      numPlanes: Int, bands: Int, seed: Long): DataFrame => DataFrame = {
    bandWidth(numPlanes, bands, "numPlanes")
    require(numPlanes <= 64, "numPlanes must be <= 64")
    require(dim > 0, "dim must be the embedding dimensionality (> 0)")
    val planes = VectorSearch.randomPlanes(numPlanes, dim, seed)
    df => df.select(col(idCol).as("doc"), col(vecCol).as("__v"),
      VectorSearch.hyperplaneSignature(col(vecCol), planes).as("__sig"))
  }

  /** Exact cosine of re-attached vectors, kept at ≥ threshold. */
  private def cosineVerify(withVecs: DataFrame, threshold: Double): DataFrame =
    withVecs
      .withColumn("cos", cosine_sim(col("__pa"), col("__pb")))
      .filter(col("cos") >= lit(threshold))
      .withColumn("cos", round(col("cos"), 4))

  /** Embedding-cosine near-dup pairs — EXACT brute pairwise; ground truth
    * and fine at modest n. The 100 TB path is the LSH variant below. */
  def embeddingNearDupPairs(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", cosine_sim(col("__va"), col("__vb")))
      .filter(col("cos") >= lit(threshold))
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /**
   * LSH-bucketed embedding near-dup pairs — the scale path: random-
   * hyperplane signatures (map-only), banded bucket self-join (the only
   * shuffle; candidate volume governed by collision probability), exact
   * cosine verification on candidates only.
   *
   * Probability note: per-bit agreement is 1 − θ/π, so banding prunes
   * well for HIGH thresholds (true near-dups, cos ≥ ~0.8). For loose
   * thresholds the geometry gives little separation — use the exact
   * variant or raise `bands`/lower `rowsPerBand` and pay more candidates.
   */
  def embeddingNearDupPairsLSH(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      dim: Int,
      numPlanes: Int = 32,
      bands: Int = 4,
      seed: Long = 42L,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // Candidates travel as ID PAIRS only: the banded self-join and its
    // distinct never shuffle embedding payloads (6 KB/row at d=1536 —
    // the dominant exchange cost at scale); vectors re-attach from the
    // cached signature pass for the exact-cosine verification of
    // candidates only.
    val sig = cached(planeSide(vecCol, idCol, dim, numPlanes, bands, seed)(df))
    cosineVerify(withPayload(bandedPairs(BandSide(sig,
        bitBands(col("__sig"), bands, numPlanes / bands), "embeddingNearDupPairsLSH"),
        None, maxBucketSize), "__v", sig, sig), threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /**
   * SemDeDup semantic dedup (Abbas et al. 2023, arXiv:2303.09540),
   * deterministic variant: k-means-bucket the embedding space
   * ([[KMeans]] — integer-exact Lloyd, SQL-replayable), then inside
   * each cell mark a document as a duplicate when ANY lower-id
   * cell-mate is τ-cosine-similar, `cos ≥ p/q` decided exactly by the
   * sign-aware integer kernel ([[graft.functions.DenseVec]] — no
   * double ever decides membership). Pairwise-to-any-earlier, not
   * transitive closure: the kept set is a pure function of the data,
   * independent of partitioning and visit order.
   *
   * Returns (idCol, cell, keep) for every input row.
   *
   * Scale shape: the clustering IS the candidate prune — pairs exist
   * only within a cell (expected candidate volume n²/2k vs the exact
   * tier's n²/2), and the only exchanges are the k-means fit (map-side
   * combined k×dim aggregate per round) plus ONE shuffle of
   * (id, cell, e7, n2) rows for the pair join. When k is below 4× the
   * cluster parallelism the cell key alone would cap the join at k
   * tasks (the dense-cosine-tier lesson), so the build side replicates
   * over ceil(4·par/k) salt lanes and each probe row lands on the lane
   * hashed from its id — every unordered pair still meets exactly
   * once, because the probe's lane is a function of its own id. At
   * SemDeDup's published operating point (k ≈ √n or larger) the salt
   * collapses to one lane and this is a plain per-cell hash join.
   */
  def semanticDedup(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      iterations: Int,
      thresholdP: Long,
      thresholdQ: Long,
      scale: Long = 10000000L,
      saltOverride: Int = 0): DataFrame = {
    require(thresholdP > 0 && thresholdQ > 0, "threshold p/q must be positive")
    val model = KMeans.fit(df, vecCol, idCol, k, iterations, scale)
    val e = cached(KMeans.assignScaled(df, vecCol, idCol, model))
    val par = df.sparkSession.sparkContext.defaultParallelism
    val salts =
      if (saltOverride > 0) saltOverride
      else math.max(1, math.min(64, (4 * par + k - 1) / k))
    val a = e.select(col(idCol).as("__ida"), col("cell").as("__cella"),
        col("e7").as("__ea"), col("n2").as("__na2"))
      .withColumn("__salta", explode(array((0 until salts).map(lit): _*)))
    val b = e.select(col(idCol).as("__idb"), col("cell").as("__cellb"),
        col("e7").as("__eb"), col("n2").as("__nb2"),
        pmod(xxhash64(col(idCol)), lit(salts)).cast("int").as("__saltb"))
    val dups = a.join(b,
        col("__cella") === col("__cellb") && col("__salta") === col("__saltb") &&
        col("__ida") < col("__idb") &&
        graft.functions.DenseVec.dense_cos_ge(col("__ea"), col("__eb"),
          col("__na2"), col("__nb2"), thresholdP, thresholdQ))
      .select(col("__idb").as(idCol)).distinct()
    e.select(col(idCol), col("cell"))
      .join(dups.withColumn("__dup", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("__dup").isNull.as("keep"))
  }
}

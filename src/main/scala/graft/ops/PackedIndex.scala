package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/**
 * The packed FLAT scan engine — the reference's brute-force scan ("FLAT
 * index", reference README.md:156; scan loop query.go:192-236) over
 * packed row-major slabs, distributed over Spark partitions. One engine,
 * two slab kinds: float32 ([[VectorIndex]]) and int8-quantized
 * ([[Int8VectorIndex]]). A kind supplies only its slab type, its row
 * scoring loop ([[Slab.scan]], over a list of row positions), its
 * per-row build decoder and its query preparation; heap, scan pool,
 * distributed pass, merge, persist and the slab builder are written once
 * here.
 *
 * Scale design: blocks live distributed in executor memory
 * (MEMORY_AND_DISK); the prepared query travels in the task closure
 * (~6 KB at d=1536); each partition keeps one bounded k-heap; the driver
 * merges #partitions × k candidates — the reference's per-goroutine heaps
 * (query.go:16-83) and Spark's own TakeOrderedAndProject, minus
 * row-format overhead.
 *
 * Small-corpus fast path: when the slab payload fits under
 * [[PackedIndex.LocalScanMaxBytes]], materialize() collects the index to
 * the driver and queries scan it in-process on one shared pool — Spark's
 * per-job floor (~45 ms of scheduling at local[32]) would otherwise dwarf
 * a sub-ms scan. This mirrors the reference, whose scan is always
 * in-process; at 25k×1536 float32 the driver copy is ~150 MB, plus the
 * payload a [[VectorIndex.buildWithPayload]] index carries (~100 MB at
 * 1875-char content, counted at 2 bytes per char), and the budget
 * counts both.
 */
abstract class PackedIndex[K, Q, B <: Slab[K, Q]] private[ops] (
    val blocks: RDD[B],
    val dim: Int,
    valueBytes: Int)(implicit ord: Ordering[K]) extends Serializable {

  @volatile private var local: Array[B] = null

  /** True when queries run driver-locally (small corpus). */
  def isLocal: Boolean = local != null

  /** The kind's query preparation (int8 quantizes the query). */
  protected def prepare(query: Array[Float]): Q

  /** Exhaustive top-k, (score desc, id asc) — ties break by id
    * ascending, the DataFrame tiers' contract, on every tier and layout.
    * Each winner comes back with `project(slab, row)` of its own row,
    * read by the row position the heap kept beside its id: on the
    * driver-local tier for the k overall winners only, on the
    * distributed tier inside the scan task for that partition's at most
    * k winners — one pass, no lookup by id. Under `keep`, only the rows
    * it passes are scored, so fewer than k rows can come back. */
  protected def scoreTopK[R](query: Array[Float], k: Int, keep: Option[(B, Int) => Boolean])(
      project: (B, Int) => R): Array[(K, Double, R)] = {
    require(k > 0, "k must be > 0") // k=0 indexed scores(-1) opaquely
    require(query.length == dim,
      s"vectors must have the same length: ${query.length} vs $dim")
    val q = prepare(query)
    val d = dim
    val o = ord
    val byRank = Ordering.by[Winner[K], Double](-_.score).orElseBy(_.id)(o)
    // Snapshot the @volatile once: a concurrent unpersist() nulling the
    // field between a bare null-check and a re-read would NPE mid-query.
    val snapshot = local
    val top: Seq[(Winner[K], R)] =
      if (snapshot != null) {
        // row-range chunks fanned out on the shared pool, one heap each
        val pool = PackedIndex.scanPool(blocks.sparkContext)
        snapshot.indices.flatMap { slab =>
          val b = snapshot(slab)
          (0 until b.ids.length by PackedIndex.FirstChunkRows).map { from =>
            val until = math.min(from + PackedIndex.FirstChunkRows, b.ids.length)
            pool.submit(new java.util.concurrent.Callable[Array[Winner[K]]] {
              def call(): Array[Winner[K]] = {
                val heap = new TopKHeap[K](k, o)
                PackedIndex.offer[K, Q, B](b, from, until, d, q, heap, slab, keep)
                heap.result
              }
            })
          }
        }.flatMap(_.get()).sorted(byRank).take(k)
          .map(w => w -> project(snapshot(w.slab), w.row))
      } else {
        blocks.mapPartitions { it =>
          val heap = new TopKHeap[K](k, o)
          // a cached partition's blocks are resident in the block
          // manager already; holding their references until the heap is
          // final lets the winners be projected without a second pass
          val seen = scala.collection.mutable.ArrayBuffer.empty[B]
          it.foreach { b =>
            PackedIndex.offer[K, Q, B](b, 0, b.ids.length, d, q, heap, seen.length, keep)
            seen += b
          }
          heap.result.iterator.map(w => w -> project(seen(w.slab), w.row))
        }.collect().toSeq.sortBy(_._1)(byRank).take(k)
      }
    top.map { case (w, r) => (w.id, w.score, r) }.toArray
  }

  /** Count of indexed vectors. */
  def count(): Long = {
    val snapshot = local
    if (snapshot != null) snapshot.map(_.ids.length.toLong).sum
    else blocks.map(_.ids.length.toLong).sum().toLong
  }

  def persist(level: StorageLevel = StorageLevel.MEMORY_AND_DISK): this.type = {
    blocks.persist(level); this
  }

  /** Force materialization (so the first query isn't charged the build);
    * pulls the index driver-local when its slabs and payload fit under
    * [[PackedIndex.LocalScanMaxBytes]] — both are counted by the one job
    * that builds the blocks. `forceDistributed = true` keeps blocks on
    * executors regardless — the path every corpus above the budget
    * takes, benchmarked explicitly so the at-scale tier has a measured
    * point. */
  def materialize(forceDistributed: Boolean = false): this.type = {
    val (rows, payloadBytes) = blocks.map(b => (b.ids.length.toLong, b.payloadBytes))
      .fold((0L, 0L)) { case ((r1, p1), (r2, p2)) => (r1 + r2, p1 + p2) }
    if (!forceDistributed && PackedIndex.fitsDriver(rows, dim, valueBytes, payloadBytes)) {
      PackedIndex.scanPool(blocks.sparkContext) // sized while the session is live
      local = blocks.collect()
      // blocking: callers time queries right after materialize(), and an
      // asynchronous eviction of the executor copy would drain inside
      // their first measured window
      blocks.unpersist(blocking = true)
    }
    this
  }

  /** `blocking = true` waits for the executor blocks to actually drop —
    * benchmark teardown paths use it so a later timed window doesn't
    * absorb this index's asynchronous eviction. */
  def unpersist(blocking: Boolean = false): this.type = {
    if (local == null) blocks.unpersist(blocking); local = null; this
  }
}

/** One packed row-major slab of some kind plus its parallel id array. */
trait Slab[K, Q] extends Serializable {
  def ids: Array[K]

  /** Offer the rows at the first `n` positions of `rows` (ascending),
    * scored against the prepared query, to the heap, each at its
    * position (`slab`, row) — the kind's one monomorphic scoring loop,
    * for a filter's surviving rows and for a whole range alike. */
  private[ops] def scan(rows: Array[Int], n: Int, d: Int, q: Q, heap: TopKHeap[K], slab: Int): Unit

  /** Bytes the slab keeps beside its vectors, for the driver-local
    * budget. */
  private[graft] def payloadBytes: Long = 0L
}

/** One heap winner: its id and score, and its row position — row `row`
  * of the scan's `slab`-th slab. */
private[ops] final case class Winner[K](id: K, score: Double, slab: Int, row: Int)

/** The packed tier's one bounded top-k: the k strongest rows under
  * (score desc, id asc) — the SAME total order as every DataFrame tier
  * (orderBy(desc(similarity), asc(id))), so tied results never depend on
  * block or partition layout. The id comparison only runs on exact score
  * equality, so the tie-aware branch costs nothing on the hot path. Each
  * slot keeps its row position beside the id, so a winner's row can be
  * read back without a lookup by id. */
private[ops] final class TopKHeap[K](k: Int, ord: Ordering[K]) {
  private[this] val ids = new Array[Any](k)
  private[this] val scores = new Array[Double](k)
  private[this] val slabs = new Array[Int](k)
  private[this] val rows = new Array[Int](k)
  private[this] var size = 0
  private[this] var minIdx = -1

  // weakest slot = (score asc, id desc)
  private def establishMin(): Unit = {
    minIdx = 0
    var j = 1
    while (j < k) {
      if (scores(j) < scores(minIdx) || (scores(j) == scores(minIdx) &&
          ord.compare(ids(j).asInstanceOf[K], ids(minIdx).asInstanceOf[K]) > 0))
        minIdx = j
      j += 1
    }
  }

  def insert(id: K, s: Double, slab: Int, row: Int): Unit = {
    if (size < k) {
      put(size, id, s, slab, row); size += 1
      if (size == k) establishMin()
    } else if (s > scores(minIdx) || (s == scores(minIdx) &&
        ord.compare(id, ids(minIdx).asInstanceOf[K]) < 0)) {
      put(minIdx, id, s, slab, row)
      establishMin()
    }
  }

  private def put(j: Int, id: K, s: Double, slab: Int, row: Int): Unit = {
    ids(j) = id; scores(j) = s; slabs(j) = slab; rows(j) = row
  }

  def result: Array[Winner[K]] =
    Array.tabulate(size)(j => Winner(ids(j).asInstanceOf[K], scores(j), slabs(j), rows(j)))
}

object PackedIndex {

  /** Slabs plus payload at or below this scan driver-locally: 800 MB,
    * i.e. 200M float32 or 800M int8 values, well inside the 8 GB driver heap.
    * This is the reference's operating envelope (an embeddable in-process
    * store); corpora beyond it stay distributed. */
  val LocalScanMaxBytes: Long = 800L * 1000 * 1000

  /** Whether an index of `rows` vectors of `dim` values, `valueBytes`
    * each, plus `payloadBytes` kept beside them, fits the driver-local
    * budget. */
  private[graft] def fitsDriver(rows: Long, dim: Int, valueBytes: Int, payloadBytes: Long): Boolean =
    rows * dim * valueBytes + payloadBytes <= LocalScanMaxBytes

  /** Offer rows [from, until) of `b` to the heap, under `keep` only the
    * rows it passes: selected [[FirstChunkRows]] at a time into one row
    * list, each list scored by the kind's [[Slab.scan]]. */
  private def offer[K, Q, B <: Slab[K, Q]](b: B, from: Int, until: Int, d: Int, q: Q,
      heap: TopKHeap[K], slab: Int, keep: Option[(B, Int) => Boolean]): Unit = {
    val pass = keep.orNull
    val rows = new Array[Int](math.min(until - from, FirstChunkRows))
    var r = from
    while (r < until) {
      val end = math.min(r + rows.length, until)
      var n = 0
      while (r < end) {
        if (pass == null || pass(b, r)) { rows(n) = r; n += 1 }
        r += 1
      }
      b.scan(rows, n, d, q, heap, slab)
    }
  }

  /** Per-block slab cap (~64 MB). The r12 1M-row build showed
    * 17.9→143.9 s swings across identical-code windows: each partition
    * buffered every row as its OWN ~6 KB float array (old-gen churn that
    * survives minor GCs for the whole partition pass) and then held
    * buffer + slab live simultaneously. Fixed-size chunks bound the
    * transient footprint to ONE chunk per task regardless of partition
    * size, which is also the property a 1000-executor build needs. */
  private[graft] val ChunkBytes: Int = 64 * 1024 * 1024

  /** Rows in a partition's first slab (so tiny partitions don't pay a
    * 64 MB allocation) and in one driver-local scan task. */
  private[ops] val FirstChunkRows: Int = 4096

  @volatile private var pool: java.util.concurrent.ExecutorService = null

  /** The one daemon pool for driver-local scans — creating threads
    * per-query would cost more than the scan itself. Sized at first use
    * from the session's parallelism, not the JVM's processor count, so a
    * session that runs local[n] scans on n threads. */
  private[ops] def scanPool(sc: SparkContext): java.util.concurrent.ExecutorService = {
    if (pool == null) synchronized {
      if (pool == null) pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, sc.defaultParallelism),
        (r: Runnable) => { val t = new Thread(r, "packed-index-local-scan"); t.setDaemon(true); t })
    }
    pool
  }

  /** The one streaming slab builder: rows go straight into fixed-size
    * slabs of `rowBytes`-wide rows — no per-row arrays, no grow-doubling,
    * no buffer+slab double-live window. Rows are Spark's internal rows,
    * decoded by position, so columns 1.. must have the simple type names
    * `types`; a vector is copied element by element into the slab, never
    * boxed. `alloc` makes an empty slab over the given id array, `put`
    * decodes columns 1.. of the row with the given id into slot n, and
    * `trim` cuts the last partial slab to n rows so persisted bytes ==
    * data bytes. Small corpora want few partitions (per-task scheduling
    * dominates sub-ms scans); `numBlocks = 0` keeps the upstream
    * partitioning. */
  private[ops] def buildSlabs[K: ClassTag, B: ClassTag](
      df: DataFrame, cols: Seq[String], types: Seq[String], numBlocks: Int, rowBytes: Int)(
      alloc: Array[K] => B, put: (B, Int, K, InternalRow) => Unit, trim: (B, Int) => B): RDD[B] = {
    val selected = df.select(cols.map(col): _*)
    selected.schema.tail.zip(types).foreach { case (f, t) =>
      val actual = f.dataType.simpleString
      require(actual == t, s"column ${f.name} must be $t, got $actual")
    }
    val idType = selected.schema.head.dataType
    val rows0 = selected.queryExecution.toRdd
    val rows = if (numBlocks > 0) rows0.coalesce(numBlocks) else rows0
    rows.mapPartitions { it =>
      val toId = CatalystTypeConverters.createToScalaConverter(idType)
      val capRows = math.max(1, ChunkBytes / rowBytes)
      var nextRows = math.min(FirstChunkRows, capRows)
      new Iterator[B] {
        def hasNext: Boolean = it.hasNext
        def next(): B = {
          val ids = new Array[K](nextRows)
          nextRows = capRows
          val slab = alloc(ids)
          var n = 0
          while (n < ids.length && it.hasNext) {
            val row = it.next()
            val id = toId(row.get(0, idType)).asInstanceOf[K]
            put(slab, n, id, row)
            ids(n) = id
            n += 1
          }
          if (n == ids.length) slab else trim(slab, n)
        }
      }
    }
  }
}

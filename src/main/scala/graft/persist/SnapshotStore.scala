package graft.persist

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Versioned snapshot store — time-travel reads for incremental
 * pipelines (the Delta/Iceberg idea reduced to its core: immutable
 * version directories plus an atomically swapped latest-pointer).
 *
 * Why not tmp-swap like [[ParquetPersistence]]? A 100 TB pipeline that
 * diffs successive runs, retries a failed downstream stage, or audits
 * "what did the corpus look like when model X trained" needs OLD
 * versions to stay readable — swap-in-place destroys them mid-scan.
 * Here every commit writes a fresh `v<n>` directory (never mutated
 * after the move), so concurrent readers of any retained version are
 * safe, and `prune` is the explicit, logged retention decision.
 *
 * Layout:
 * {{{
 *   <root>/v00000001/   immutable parquet dataset
 *   <root>/v00000002/
 *   <root>/_latest.json {"version": 2}   (tmp + ATOMIC_MOVE)
 * }}}
 */
class SnapshotStore(rootDir: String) {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val root: Path = Paths.get(rootDir)
  private def versionDir(v: Long): Path = root.resolve(f"v$v%08d")
  private def pointer: Path = root.resolve("_latest.json")

  /** Committed versions, ascending (directories without a completed
    * move — crashed writers — are invisible because the `.tmp` suffix
    * never matches). */
  def versions: Seq[Long] = {
    if (!Files.isDirectory(root)) return Seq.empty
    val s = Files.list(root)
    try s.iterator().asScala
      .map(_.getFileName.toString)
      // {8,}: f"v$v%08d" zero-PADS to 8 digits but grows past them —
      // an exactly-8 match would make version 1e8+ invisible and wedge
      // the allocation counter on FileAlreadyExists forever
      .filter(_.matches("v\\d{8,}"))
      .map(_.drop(1).toLong).toSeq.sorted
    finally s.close()
  }

  /** The pointer is the READ source of truth: a version exists for
    * readers only once `_latest.json` names it (or a newer one). The
    * directory listing is the ALLOCATION counter: `commit` numbers the
    * next version from it, so a crash between the data-dir rename and
    * the pointer swap leaves an allocated-but-unpublished version that
    * `latestVersion` ignores and the next `commit` skips past — readers
    * never observe it unless they time-travel to it explicitly. */
  def latestVersion: Option[Long] =
    if (Files.exists(pointer))
      Some(Json.parse(Files.readString(pointer))
        .asInstanceOf[Map[String, Any]]("version") match {
        // numeric match, not asInstanceOf[Double]: the parser may return
        // any Number subtype for an integer literal
        case n: Number => n.longValue
        case other => throw new IllegalStateException(
          s"snapshot pointer version is not numeric: $other")
      })
    else None

  /** Write `df` as the next version and move the latest-pointer to it.
    * Returns the new version number. The data directory becomes visible
    * only via the completed rename; the pointer swap is atomic.
    *
    * Concurrency: `synchronized` serializes committers SHARING THIS
    * STORE OBJECT (two streams over one store, a stream plus a batch
    * job in one JVM) — unsynchronized, both would allocate the same
    * version number from the directory listing, collide on the tmp
    * names, and the loser's data would be silently lost or a
    * half-written dataset published. The tmp names also carry a unique
    * suffix so a SECOND store object over the same root (or another
    * process — cross-process commits remain externally coordinated, as
    * the class doc's single-writer assumption states) can never delete
    * this commit's in-flight write; the version-number race across
    * processes then surfaces as a loud FileAlreadyExistsException on
    * the final rename instead of silent corruption. */
  def commit(df: DataFrame): Long = synchronized {
    Files.createDirectories(root)
    val v = versions.lastOption.getOrElse(0L) + 1L
    val unique = java.util.UUID.randomUUID().toString.take(8)
    val tmp = root.resolve(f"v$v%08d.$unique.tmp")
    Persistence.deleteTree(tmp)
    try {
      df.write.mode("overwrite").parquet(tmp.toString)
      Files.move(tmp, versionDir(v))
    } finally Persistence.deleteTree(tmp) // no-op on success; clears a failed write
    val ptrTmp = root.resolve(s"_latest.json.$unique.tmp")
    Files.writeString(ptrTmp, Json.obj("version" -> Json.num(v.toDouble)))
    Files.move(ptrTmp, pointer, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    v
  }

  def read(spark: SparkSession, version: Long): DataFrame = {
    require(Files.isDirectory(versionDir(version)),
      s"snapshot version $version does not exist under $root")
    spark.read.parquet(versionDir(version).toString)
  }

  def readLatest(spark: SparkSession): DataFrame = {
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    read(spark, v)
  }

  /** Drop all but the newest `keepLast` versions (the latest-pointer
    * target is always retained). Returns the pruned version numbers —
    * and logs them, because silent data deletion is how audits die. */
  def prune(keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val vs = versions
    // retention counts PUBLISHED versions only (<= the pointer): a
    // crashed commit's allocated-but-unpublished dir otherwise occupies
    // a keepLast slot and a fully committed version gets deleted a slot
    // early — "keep the 2 newest snapshots" must mean readable ones.
    // Unpublished dirs above the pointer are retained (the in-flight
    // commit protocol owns them), never counted.
    val published = latestVersion match {
      case Some(latest) => vs.filter(_ <= latest)
      case None => Seq.empty
    }
    val keep = published.takeRight(keepLast).toSet ++ latestVersion.toSet ++
      vs.filter(v => latestVersion.forall(v > _)).toSet
    val drop = vs.filterNot(keep)
    if (drop.nonEmpty) {
      log.warn(s"SnapshotStore($root): pruning versions ${drop.mkString(", ")} " +
        s"(keeping ${keep.toSeq.sorted.mkString(", ")})")
      drop.foreach(v => Persistence.deleteTree(versionDir(v)))
    }
    drop
  }

  /**
   * Row-level diff between two versions keyed by `idCol`:
   * (change = added | removed | changed, id). Rows compare by a hash of
   * the full row struct, so the shuffle carries (id, 8-byte hash) per
   * side — never the payloads.
   *
   * Precondition: `idCol` must be UNIQUE within each version — commit()
   * accepts any DataFrame, but a duplicated id makes the full_outer
   * join emit a row PER PAIR (duplicated/contradictory change rows for
   * that id). Every producer in this repo commits keyed corpora;
   * dedup first if yours is not.
   */
  def diff(spark: SparkSession, fromV: Long, toV: Long, idCol: String): DataFrame = {
    def hashed(df: DataFrame) = {
      val others = df.columns.filterNot(_ == idCol).sorted.map(col)
      df.select(col(idCol), xxhash64(struct(others.toIndexedSeq: _*)).as("__h"))
    }
    val a = hashed(read(spark, fromV)).withColumnRenamed("__h", "__ha")
    val b = hashed(read(spark, toV)).withColumnRenamed("__h", "__hb")
    a.join(b, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__ha").isNull, lit("added"))
          .when(col("__hb").isNull, lit("removed"))
          .when(col("__ha") =!= col("__hb"), lit("changed")).as("change"))
      .filter(col("change").isNotNull)
  }

}

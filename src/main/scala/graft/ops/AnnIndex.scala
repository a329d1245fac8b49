package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.HashFunctions.hamming64
import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.dot_const_f32

/**
 * Persisted ANN index state — "build once, probe many".
 *
 * `IvfIndex` leaves centroid training + cell assignment to the caller.
 * For the repeated-query shape (an online ANN service, a bench loop) the
 * signature/assignment pass is the dominant cost and must be paid ONCE.
 * These classes materialize that pass into a cached DataFrame and keep
 * the driver-side model (planes / centroids) alongside it, so each probe
 * is:
 *
 *  - LSH: a codegen'd hamming-distance filter on a precomputed i64
 *    signature column + exact re-rank of survivors → TakeOrderedAndProject
 *    (no shuffle, no signature recompute).
 *  - IVF: a partition-pruned scan of the `nprobe` nearest cells (the
 *    layout is clustered by cell at build time) + exact re-rank.
 *
 * At 100 TB the build pass is one map-only job whose output would live as
 * a signature/cell column in the table layout (Z-ordered or
 * partitioned-by-cell parquet); the probe reads a sliver of it.
 */
object AnnIndex {

  /** Candidate-ranking score at the requested precision — the same
    * f32/f64 dispatch (and the same const-kernel rationale) as
    * [[VectorSearch.scored]], shared by the LSH and IVF probes. */
  private[ops] def rankScore(vec: org.apache.spark.sql.Column,
      q: Array[Float], precision: String): org.apache.spark.sql.Column =
    precision match {
      case "f32" => dot_const_f32(vec, q)
      case "f64" => VectorFunctions.dot_const_f64(vec, q.map(_.toDouble))
      case other => throw new IllegalArgumentException(s"unknown precision: $other")
    }

  /** Build an LSH index: one map-only signature pass, cached. */
  def buildLsh(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      numPlanes: Int = 16,
      seed: Long = 42L,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): LshIndex = {
    require(numPlanes > 0 && numPlanes <= 64, "numPlanes must be in [1, 64]")
    require(dim > 0, "dim must be the embedding dimensionality (> 0)")
    val planes = VectorSearch.randomPlanes(numPlanes, dim, seed)
    val signed = df
      .withColumn("__sig", VectorSearch.hyperplaneSignature(col(vecCol), planes))
      .persist(storage)
    new LshIndex(signed, planes, vecCol, idCol)
  }

  /** Build an IVF index: driver-trained centroids on a bounded sample,
    * map-only cell assignment, layout clustered by cell, cached. */
  def buildIvf(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      nlist: Int = 16,
      sampleSize: Int = 10000,
      seed: Long = 42L,
      partitionsPerCell: Int = 1,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): IvfState = {
    val centroids = IvfIndex.trainCentroids(df, vecCol, nlist,
      sampleSize = sampleSize, seed = seed)
    val assigned = IvfIndex.assign(df, vecCol, centroids, partitionsPerCell)
      .persist(storage)
    new IvfState(assigned, centroids, vecCol, idCol)
  }
}

/** Materialized hyperplane-LSH index (see [[AnnIndex.buildLsh]]). */
final class LshIndex private[ops] (
    val signed: DataFrame,
    private[ops] val planes: Array[Array[Float]],
    vecCol: String,
    idCol: String) {

  def numPlanes: Int = planes.length

  /** Top-k by exact score among rows within `maxHamming` signature bits of
    * the query — the probe never recomputes a corpus signature.
    *
    * Normalization note: the probe normalizes an unnormalized query
    * first (the chromem collection contract — stored vectors are
    * normalized on ingest, so dot == cosine only against a normalized
    * query), unlike the raw-dot [[VectorSearch]] helpers. Signatures
    * agree either way (positive scaling never flips a plane sign); only
    * the similarity VALUES differ for unnormalized queries.
    *
    * `precision` ranks the candidates with the f32 hot-path kernel
    * (default) or exact f64 (the [[VectorSearch.scored]] convention) —
    * the gate probes with "f64" so candidate RANKING is graded against
    * the f64 DuckDB oracle with no f32-ulp boundary ties, while
    * candidate GENERATION (the signature buckets, this operator's
    * unique surface) stays the production path. */
  def topK(queryVec: Array[Float], k: Int, maxHamming: Int = 2,
      precision: String = "f32"): DataFrame = {
    val q = VectorFunctions.normalized(queryVec)
    val qSig = VectorSearch.signatureOf(q, planes)
    signed
      .filter(hamming64(col("__sig"), lit(qSig)) <= lit(maxHamming))
      .withColumn("similarity", AnnIndex.rankScore(col(vecCol), q, precision))
      .orderBy(desc("similarity"), asc(idCol))
      .limit(k)
      .drop("__sig")
  }

  /** Force materialization now (otherwise the first probe pays the build). */
  def materialize(): this.type = { signed.count(); this }

  def unpersist(): Unit = signed.unpersist()
}

/** Materialized IVF index (see [[AnnIndex.buildIvf]]). */
final class IvfState private[ops] (
    val assigned: DataFrame,
    val centroids: Array[Array[Float]],
    vecCol: String,
    idCol: String) {

  def nlist: Int = centroids.length

  /** Exact top-k within the `nprobe` cells nearest the query — a
    * partition-pruned scan of the clustered layout. `precision` as on
    * [[LshIndex.topK]]: "f64" ranks candidates exactly (the gate's
    * oracle-parity configuration); "f32" is the production hot path. */
  def topK(queryVec: Array[Float], k: Int, nprobe: Int = 2,
      precision: String = "f32"): DataFrame = {
    val q = VectorFunctions.normalized(queryVec)
    IvfIndex.topK(assigned, vecCol, centroids, q, k, idCol, nprobe, precision)
  }

  def materialize(): this.type = { assigned.count(); this }

  def unpersist(): Unit = assigned.unpersist()

  /**
   * Persist the index as a DISK layout: rows written as parquet
   * `partitionBy(__cell)` (one directory per cell) plus a centroid
   * sidecar. A probe over the re-opened layout filters on `__cell`,
   * which Spark turns into PARTITION PRUNING — at 100 TB the scan
   * touches nprobe/nlist of the files and no task ever reads the rest.
   * This is the durable form of the index; the cached `assigned`
   * DataFrame is the session form.
   */
  def save(path: String): Unit = {
    assigned.write.mode("overwrite").partitionBy("__cell").parquet(s"$path/cells")
    val spark = assigned.sparkSession
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq, vecCol, idCol) }.toSeq
      .toDF("cell", "centroid", "vec_col", "id_col")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }
}

object IvfState {
  /** Re-open a layout written by [[IvfState.save]]. Probes over it are
    * partition-pruned parquet scans (pinned by AnnIndexSpec). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): IvfState = {
    val meta = spark.read.parquet(s"$path/centroids")
      .select("cell", "centroid", "vec_col", "id_col").collect()
    require(meta.nonEmpty, s"no centroids found under $path")
    val centroids = meta.sortBy(_.getInt(0)).map(_.getSeq[Float](1).toArray)
    val cells = spark.read.parquet(s"$path/cells")
    new IvfState(cells, centroids, meta.head.getString(2), meta.head.getString(3))
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal (image/audio/video) columns for training-data pipelines.
 *
 * Media travel as opaque BINARY columns plus typed metadata; decode /
 * feature-extract / resize / frame-sample run as partition-batched
 * transforms over the binary payloads (the Scala analog of
 * `mapInPandas`: one task pulls rows in fixed-size batches, runs the
 * kernel per batch, emits rows — same batch shape, schema discipline,
 * and partitioning story as the Arrow path, without Python).
 *
 * Codecs: PNG/JPEG/GIF/BMP decode is REAL via the JDK-builtin
 * `javax.imageio`; WAV PCM decode is REAL via `javax.sound.sampled`;
 * MJPEG-in-AVI keyframe extraction is REAL via a pure-JDK RIFF chunk
 * walk + per-frame ImageIO decode (the JDK ships no general video codec,
 * but motion-JPEG is just a RIFF container of JPEG frames). The
 * deterministic "GRFT" fake format is kept for reproducible tests, and
 * unknown byte formats fall back to hash-derived dims / payload slices
 * (documented below) rather than failing the pipeline.
 */
object Multimodal {

  /** Canonical media-asset schema. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", StringType, nullable = false),
    StructField("modality", StringType, nullable = false), // image|audio|video
    StructField("bytes", BinaryType, nullable = true),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  val decodedImageSchema: StructType = StructType(Seq(
    StructField("asset_id", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("pixels", BinaryType, nullable = false)))

  val frameSchema: StructType = StructType(Seq(
    StructField("asset_id", StringType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("pixels", BinaryType, nullable = false)))

  /** Default batch size for partition-batched media kernels (the Arrow
    * `maxRecordsPerBatch` analog — bounds peak memory per task). */
  val DefaultBatchSize = 64

  // ---------------------------------------------------------------
  // Image decode. Three tiers:
  //  1. "GRFT" magic — our deterministic fixture format (tests).
  //  2. A real container signature (PNG/JPEG/GIF/BMP) — decoded with
  //     javax.imageio into interleaved RGB(A) bytes.
  //  3. Anything else — deterministic hash-derived dims (FAKE, keeps
  //     heterogeneous corpora flowing instead of failing the task).
  // ---------------------------------------------------------------
  private[graft] def decodeBytes(bytes: Array[Byte]): (Int, Int, Int, Array[Byte]) = {
    if (bytes.length >= 12 && bytes(0) == 'G' && bytes(1) == 'R' &&
        bytes(2) == 'F' && bytes(3) == 'T') {
      val bb = java.nio.ByteBuffer.wrap(bytes, 4, 8)
      val w = bb.getInt; val h = bb.getInt
      // dims must be positive and covered by the payload (≥ one byte
      // per pixel), checked in LONG math: w·h·c overflows Int at
      // 64k×64k, and the wrapped 0 turned downstream w*h divisors into
      // div-by-zero / OOB reads on an adversarial header. The bound
      // also caps w·h at the payload length, so no later Int product
      // can wrap. Inconsistent headers fall back to the unknown-blob
      // tier instead of failing the task.
      if (w > 0 && h > 0 && w.toLong * h <= (bytes.length - 12).toLong)
        (w, h, 3, bytes.drop(12))
      else fakeDecode(bytes)
    } else if (looksLikeImage(bytes)) {
      // a TRUNCATED container (valid magic, bad stream) throws from
      // ImageIO rather than returning null — the fall-back-never-fail
      // contract covers it the same way
      val img = try javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
      if (img != null) realDecode(img) else fakeDecode(bytes)
    } else fakeDecode(bytes)
  }

  /** PNG / JPEG / GIF / BMP container signatures. */
  private def looksLikeImage(b: Array[Byte]): Boolean =
    b.length >= 4 && (
      (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
      (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte) ||
      (b(0) == 'G' && b(1) == 'I' && b(2) == 'F') ||
      (b(0) == 'B' && b(1) == 'M'))

  /** BufferedImage → (w, h, channels, interleaved RGB[A] bytes). */
  private def realDecode(img: java.awt.image.BufferedImage): (Int, Int, Int, Array[Byte]) = {
    val w = img.getWidth; val h = img.getHeight
    val c = if (img.getColorModel.hasAlpha) 4 else 3
    val px = new Array[Byte](w * h * c)
    val row = new Array[Int](w)
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w) // packed ARGB
      var x = 0
      while (x < w) {
        val argb = row(x)
        val o = (y * w + x) * c
        px(o) = ((argb >> 16) & 0xFF).toByte
        px(o + 1) = ((argb >> 8) & 0xFF).toByte
        px(o + 2) = (argb & 0xFF).toByte
        if (c == 4) px(o + 3) = ((argb >>> 24) & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    (w, h, c, px)
  }

  /** FAKE decode for unknown formats: hash-derived dims, bytes as pixels. */
  private def fakeDecode(bytes: Array[Byte]): (Int, Int, Int, Array[Byte]) = {
    val h = java.util.Arrays.hashCode(bytes)
    val w = 16 + math.abs(h % 16); val ht = 16 + math.abs((h >> 8) % 16)
    (w, ht, 3, bytes)
  }

  /** Encode our synthetic fixture format (test helper / fake data gen). */
  def encodeFake(width: Int, height: Int, payload: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + payload.length)
    bb.put("GRFT".getBytes("US-ASCII")).putInt(width).putInt(height).put(payload)
    bb.array()
  }

  /** Partition-batched decode: image assets → decoded pixel rows. */
  def decodeImages(
      assets: DataFrame,
      batchSize: Int = DefaultBatchSize): DataFrame = {
    val spark = assets.sparkSession
    val input = assets.filter(col("modality") === "image" && col("bytes").isNotNull)
      .select("asset_id", "bytes")
    val schema = decodedImageSchema
    val rdd = input.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch => // bounded per-task memory
        batch.iterator.map { row =>
          val (w, h, c, px) = decodeBytes(row.getAs[Array[Byte]]("bytes"))
          Row(row.getString(0), w, h, c, px)
        }
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Resize decoded images. When the pixel buffer is a real interleaved
    * raster (length == w·h·channels) this is a REAL bilinear resample;
    * otherwise (fake fixture payloads of arbitrary length) it falls back
    * to deterministic index mapping so synthetic corpora keep flowing. */
  def resizeImages(decoded: DataFrame, newW: Int, newH: Int): DataFrame = {
    val spark = decoded.sparkSession
    val schema = decodedImageSchema
    val rdd = decoded.select("asset_id", "width", "height", "channels", "pixels")
      .rdd.mapPartitions { it =>
        it.map { row =>
          val w = row.getInt(1); val h = row.getInt(2); val c = row.getInt(3)
          val px = row.getAs[Array[Byte]]("pixels")
          val out =
            if (px.length == w * h * c && w > 0 && h > 0)
              bilinearResize(px, w, h, c, newW, newH)
            else {
              val o = new Array[Byte](math.max(1, newW * newH))
              var i = 0
              while (i < o.length) {
                o(i) = if (px.nonEmpty) px((i.toLong * px.length / o.length).toInt) else 0
                i += 1
              }
              o
            }
          Row(row.getString(0), newW, newH, c, out)
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Bilinear resample of an interleaved byte raster. */
  private[graft] def bilinearResize(
      px: Array[Byte], w: Int, h: Int, c: Int, newW: Int, newH: Int): Array[Byte] = {
    val out = new Array[Byte](newW * newH * c)
    val xRatio = if (newW > 1) (w - 1).toDouble / (newW - 1) else 0.0
    val yRatio = if (newH > 1) (h - 1).toDouble / (newH - 1) else 0.0
    var y = 0
    while (y < newH) {
      val sy = y * yRatio
      val y0 = sy.toInt; val y1 = math.min(h - 1, y0 + 1)
      val fy = sy - y0
      var x = 0
      while (x < newW) {
        val sx = x * xRatio
        val x0 = sx.toInt; val x1 = math.min(w - 1, x0 + 1)
        val fx = sx - x0
        var ch = 0
        while (ch < c) {
          val p00 = java.lang.Byte.toUnsignedInt(px((y0 * w + x0) * c + ch))
          val p01 = java.lang.Byte.toUnsignedInt(px((y0 * w + x1) * c + ch))
          val p10 = java.lang.Byte.toUnsignedInt(px((y1 * w + x0) * c + ch))
          val p11 = java.lang.Byte.toUnsignedInt(px((y1 * w + x1) * c + ch))
          val v = (p00 * (1 - fx) + p01 * fx) * (1 - fy) +
                  (p10 * (1 - fx) + p11 * fx) * fy
          out((y * newW + x) * c + ch) = math.round(v).toInt.max(0).min(255).toByte
          ch += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** Feature-extract: decoded image → d-dim float embedding, normalized —
    * plugs straight into VectorSearch / Dedup.embeddingNearDupPairs.
    * REAL kernel for true interleaved rasters (length == w·h·channels):
    * grid color moments — mean luminance per cell of a ⌈√d⌉-wide spatial
    * grid, the classic public image-retrieval descriptor (deterministic,
    * no external libs). Non-raster payloads (synthetic fixtures, unknown
    * formats) fall back to the byte-histogram sketch so heterogeneous
    * corpora keep flowing. */
  def imageFeatures(decoded: DataFrame, dim: Int = 64): DataFrame = {
    val spark = decoded.sparkSession
    val schema = StructType(Seq(
      StructField("asset_id", StringType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
    val rdd = decoded.select("asset_id", "width", "height", "channels", "pixels")
      .rdd.mapPartitions { it =>
        it.map { row =>
          val w = row.getInt(1); val h = row.getInt(2); val c = row.getInt(3)
          val px = row.getAs[Array[Byte]]("pixels")
          val v =
            if (px.length == w * h * c && w > 0 && h > 0)
              gridColorMoments(px, w, h, c, dim)
            else byteHistogram(px, dim)
          Row(row.getString(0), graft.functions.VectorFunctions.normalize(v).toSeq)
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Perceptual average-hash (aHash, 64-bit): decoded image → bilinear
    * 8×8 luminance (Rec.601) → bit i set iff cell i is strictly above
    * the 64-cell mean. The classic re-encode/resize/brightness-robust
    * near-dup signature — small edits flip few bits. Real interleaved
    * rasters hash the real resample; non-raster payloads (synthetic
    * fixtures) inherit [[resizeImages]]' deterministic index-map
    * fallback, so heterogeneous corpora keep flowing and equal bytes
    * always hash equal. Returns (asset_id, phash). */
  def imageHashes(decoded: DataFrame): DataFrame = {
    val spark = decoded.sparkSession
    val schema = StructType(Seq(
      StructField("asset_id", StringType, nullable = false),
      StructField("phash", LongType, nullable = false)))
    val rdd = decoded.select("asset_id", "width", "height", "channels", "pixels")
      .rdd.mapPartitions { it =>
        it.map { row =>
          Row(row.getString(0), rasterHash(row.getInt(1), row.getInt(2),
            row.getInt(3), row.getAs[Array[Byte]]("pixels")))
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Shared raster→64-bit aHash kernel (images and video frames). */
  private def rasterHash(w: Int, h: Int, c: Int, px: Array[Byte]): Long = {
    def u(b: Byte): Double = java.lang.Byte.toUnsignedInt(b).toDouble
    val cells: Array[Double] =
      if (px.length == w * h * c && w > 0 && h > 0) {
        val small = bilinearResize(px, w, h, c, 8, 8)
        Array.tabulate(64) { i =>
          if (c >= 3)
            0.299 * u(small(i * c)) + 0.587 * u(small(i * c + 1)) +
              0.114 * u(small(i * c + 2))
          else u(small(i * c))
        }
      } else {
        Array.tabulate(64)(i =>
          if (px.nonEmpty) u(px((i.toLong * px.length / 64).toInt)) else 0.0)
      }
    bitsAboveMean(cells)
  }

  /** 64 doubles → bit i set iff cells(i) strictly above the mean. */
  private def bitsAboveMean(cells: Array[Double]): Long = {
    val mean = cells.sum / cells.length
    var sig = 0L
    var i = 0
    while (i < cells.length) { if (cells(i) > mean) sig |= (1L << i); i += 1 }
    sig
  }

  /** Banded-Hamming near-dup pairs over ANY (id, 64-bit hash) frame:
    * 4×16-bit pigeonhole bands (distance ≤ 3 ⇒ ≥ 1 band agrees — full
    * recall), exact popcount verify on candidates only. Shared by the
    * image and audio dedup surfaces; public so gate queries can pair
    * from a staged fingerprint frame (the banding + verify algebra is
    * exactly what the DuckDB oracle replays as a brute-force popcount
    * join — full recall makes the two equivalent). Each id must carry
    * ONE hash (duplicate rows are deduped; an id with several distinct
    * hashes would inflate its pairs — use [[sharedHashPairs]] for
    * multi-hash-per-id frames like per-frame fingerprints). Returns
    * (id_a, id_b, hamming). */
  def hashNearDupPairs(
      hashes: DataFrame, idCol: String, hashCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      "pigeonhole recall over 4 bands requires maxDist <= 3")
    // distinct (the sharedHashPairs convention): an id appearing more
    // than once would re-join in the verify stage and inflate each pair
    // into n_a×n_b rows with divergent hamming values
    val hs = hashes.select(col(idCol).as("doc"), col(hashCol).as("__h"))
      .distinct()
      .localCheckpoint(true) // two consumers: banding + verify re-attach
    // unguarded (maxBucketSize = 0): the oracle's brute-force popcount
    // join needs full recall
    Dedup.withPayload(Dedup.bandedPairs(Dedup.BandSide(hs,
        Dedup.bitBands(col("__h"), 4, 16), "hashNearDupPairs"), None, 0),
        "__h", hs, hs)
      .withColumn("hamming",
        bit_count(col("__pa").bitwiseXOR(col("__pb"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** 64-bit audio fingerprint: the PCM stream cut into 64 equal
    * windows, bit i set iff window-i RMS energy is strictly above the
    * mean window energy — gain-invariant by construction (a volume
    * change scales every window equally). WAV payloads fingerprint the
    * real PCM decode; others the i8 fallback (equal bytes ⇒ equal
    * fingerprint either way). Returns (asset_id, afp). */
  def audioFingerprints(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    val schema = StructType(Seq(
      StructField("asset_id", StringType, nullable = false),
      StructField("afp", LongType, nullable = false)))
    val rdd = assets.filter(col("modality") === "audio" && col("bytes").isNotNull)
      .select("asset_id", "bytes").rdd.mapPartitions { it =>
        it.map { row =>
          val samples = decodePcm(row.getAs[Array[Byte]]("bytes"))
          val n = samples.length
          val cells = Array.tabulate(64) { wdw =>
            val start = (wdw.toLong * n / 64).toInt
            val end = math.max(start + 1, ((wdw + 1).toLong * n / 64).toInt)
            var sq = 0.0
            var i = start
            while (i < math.min(end, n)) { sq += samples(i) * samples(i); i += 1 }
            if (end > start && n > 0) math.sqrt(sq / (end - start)) else 0.0
          }
          Row(row.getString(0), bitsAboveMean(cells))
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Audio near-dup pairs by fingerprint Hamming distance ≤ maxDist —
    * the acoustic twin of [[imageNearDupPairs]]. */
  def audioNearDupPairs(assets: DataFrame, maxDist: Int = 3): DataFrame =
    hashNearDupPairs(audioFingerprints(assets), "asset_id", "afp", maxDist)

  /** Per-keyframe perceptual hashes: [[sampleFrames]] → the shared
    * raster aHash. Channels are inferred from the buffer length (real
    * MJPEG decodes are interleaved RGB; fallback slices hash as
    * payload bytes). Returns (asset_id, frame, phash). */
  def frameHashes(
      assets: DataFrame,
      everyNth: Int = 2,
      maxFrames: Int = 8): DataFrame = {
    val spark = assets.sparkSession
    val schema = StructType(Seq(
      StructField("asset_id", StringType, nullable = false),
      StructField("frame", IntegerType, nullable = false),
      StructField("phash", LongType, nullable = false)))
    val rdd = sampleFrames(assets, everyNth, maxFrames)
      .select("asset_id", "frame_idx", "width", "height", "pixels")
      .rdd.mapPartitions { it =>
        it.map { row =>
          val w = row.getInt(2); val h = row.getInt(3)
          val px = row.getAs[Array[Byte]]("pixels")
          val c = if (w > 0 && h > 0 && px.length % (w * h) == 0 &&
            px.length / (w * h) > 0) px.length / (w * h) else 1
          Row(row.getString(0), row.getInt(1), rasterHash(w, h, c, px))
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /**
   * Video near-dup pairs: two videos match when ≥ `minShared` of their
   * sampled keyframes hash IDENTICALLY — re-containerized or trimmed
   * copies share most keyframe hashes, unrelated footage shares none.
   * The join keys on the 8-byte hash (equi-join, candidates ∝ hash
   * collisions), frames and pixels never leave the decode stage.
   * Returns (id_a, id_b, n_shared).
   */
  def videoNearDupPairs(
      assets: DataFrame,
      everyNth: Int = 2,
      maxFrames: Int = 8,
      minShared: Int = 2): DataFrame =
    sharedHashPairs(frameHashes(assets, everyNth, maxFrames),
      "asset_id", "phash", minShared)

  /** Shared-hash near-dup pairs over ANY (id, hash) frame: ids sharing
    * ≥ `minShared` DISTINCT hash values pair up (the keyframe-overlap
    * join of [[videoNearDupPairs]], factored out so gate queries can
    * pair from a staged per-frame fingerprint frame). Equi-join on the
    * hash — candidates ∝ hash collisions. Returns (id_a, id_b,
    * n_shared). */
  def sharedHashPairs(
      hashes: DataFrame, idCol: String, hashCol: String,
      minShared: Int): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val fh = hashes.select(col(idCol).as("__id"), col(hashCol).as("__h"))
      .distinct()
    fh.alias("a").join(fh.alias("b"),
        col("a.__h") === col("b.__h") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /**
   * Near-dup image pairs by perceptual-hash Hamming distance ≤
   * `maxDist`: Hamming pigeonhole banding — a 64-bit signature split
   * into 4 bands of 16 bits; two signatures within distance ≤ 3 MUST
   * agree on at least one whole band (4 bands, ≤ 3 flipped bits), so
   * the banded bucket self-join has FULL recall and the exact popcount
   * verify on candidates only sets precision. Returns
   * (id_a, id_b, hamming).
   *
   * Scale shape: hashes are 8 B/image; the candidate join keys on
   * (band, 16-bit bucket) and carries ids only — pixels never leave
   * the decode stage; verification re-attaches two longs per pair.
   */
  def imageNearDupPairs(
      assets: DataFrame,
      maxDist: Int = 3,
      batchSize: Int = DefaultBatchSize): DataFrame =
    hashNearDupPairs(imageHashes(decodeImages(assets, batchSize)),
      "asset_id", "phash", maxDist)

  /** Grid color moments: mean luminance (Rec.601 weights for RGB) per
    * cell of a gw×gh spatial grid with gw·gh ≥ dim; the first `dim` cell
    * means (row-major, scaled to [0,1]) form the descriptor. */
  private[graft] def gridColorMoments(
      px: Array[Byte], w: Int, h: Int, c: Int, dim: Int): Array[Float] = {
    val gw = math.ceil(math.sqrt(dim.toDouble)).toInt
    val gh = math.ceil(dim.toDouble / gw).toInt
    val sums = new Array[Double](gw * gh)
    val counts = new Array[Int](gw * gh)
    var y = 0
    while (y < h) {
      val cy = math.min(gh - 1, y * gh / h)
      var x = 0
      while (x < w) {
        val cx = math.min(gw - 1, x * gw / w)
        val o = (y * w + x) * c
        val lum =
          if (c >= 3)
            0.299 * (px(o) & 0xFF) + 0.587 * (px(o + 1) & 0xFF) +
              0.114 * (px(o + 2) & 0xFF)
          else (px(o) & 0xFF).toDouble
        sums(cy * gw + cx) += lum
        counts(cy * gw + cx) += 1
        x += 1
      }
      y += 1
    }
    val v = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      v(i) = if (counts(i) > 0) (sums(i) / counts(i) / 255.0).toFloat else 0f
      i += 1
    }
    v
  }

  /** Byte-histogram sketch (the fallback for non-raster payloads). */
  private def byteHistogram(px: Array[Byte], dim: Int): Array[Float] = {
    val v = new Array[Float](dim)
    var i = 0
    while (i < px.length) { v(java.lang.Byte.toUnsignedInt(px(i)) % dim) += 1f; i += 1 }
    v
  }

  /** Frame-sample videos: every `everyNth` frame among the first
    * `maxFrames`. MJPEG-in-AVI payloads get a REAL decode: the RIFF
    * chunk walk collects the `##dc`/`##db` video chunks (JPEG frames for
    * motion-JPEG) and each sampled frame decodes through ImageIO into an
    * interleaved raster with its true dimensions. Non-AVI payloads keep
    * the deterministic payload-slice fallback (synthetic fixtures); the
    * exploded one-row-per-frame shape and schema are the same contract
    * either way. */
  def sampleFrames(
      assets: DataFrame,
      everyNth: Int = 2,
      maxFrames: Int = 8): DataFrame = {
    // driver-side require, not an executor crash: everyNth=0 threw
    // "step cannot be 0" inside every task, and a negative step
    // silently produced zero frames (every video then reported zero
    // near-dup pairs). Covers frameHashes/videoNearDupPairs too.
    require(everyNth >= 1, "everyNth must be >= 1")
    require(maxFrames >= 1, "maxFrames must be >= 1")
    val spark = assets.sparkSession
    val schema = frameSchema
    val rdd = assets.filter(col("modality") === "video" && col("bytes").isNotNull)
      .select("asset_id", "bytes").rdd.mapPartitions { it =>
        it.flatMap { row =>
          val bytes = row.getAs[Array[Byte]]("bytes")
          if (isAvi(bytes)) {
            val frames = aviVideoChunks(bytes)
            val n = math.min(maxFrames, frames.length)
            (0 until n by everyNth).flatMap { f =>
              // corrupt chunks THROW from ImageIO (not null): skip, don't
              // fail the task — same contract as the null branch
              val img = try javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(frames(f)))
              catch { case _: Exception => null }
              if (img == null) None // non-JPEG codec chunk: skip, don't fail
              else {
                val (w, h, _, px) = realDecode(img)
                Some(Row(row.getString(0), f, w, h, px))
              }
            }
          } else {
            // FALLBACK for unknown containers: deterministic payload slices.
            val (w, h, _, payload) = decodeBytes(bytes)
            val nFrames = math.min(maxFrames, math.max(1, payload.length / math.max(1, w)))
            (0 until nFrames by everyNth).map { f =>
              val start = (f.toLong * payload.length / math.max(1, nFrames)).toInt
              val end = math.min(payload.length, start + math.max(1, w))
              Row(row.getString(0), f, w, h, payload.slice(start, end))
            }
          }
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** RIFF 'AVI ' container signature. */
  private[ops] def isAvi(b: Array[Byte]): Boolean =
    b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' '

  /** Walk the RIFF chunk tree and collect the video stream chunks
    * (`##dc` compressed / `##db` uncompressed — JPEG frames in MJPEG).
    * Pure JDK: 4CC ids + little-endian sizes, chunks padded to even
    * offsets, LIST/RIFF nodes carry a 4-byte form type then subchunks. */
  private[graft] def aviVideoChunks(bytes: Array[Byte]): IndexedSeq[Array[Byte]] = {
    def u32(off: Int): Long =
      (bytes(off) & 0xFFL) | ((bytes(off + 1) & 0xFFL) << 8) |
        ((bytes(off + 2) & 0xFFL) << 16) | ((bytes(off + 3) & 0xFFL) << 24)
    def fourcc(off: Int): String = new String(bytes, off, 4, "US-ASCII")
    val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    def walk(start: Int, end: Int): Unit = {
      var p = start
      while (p + 8 <= end) {
        val id = fourcc(p)
        // the size field is UNTRUSTED input: keep it in Long and clamp —
        // a corrupt/hostile 32-bit size near 2^31 overflowed the old Int
        // arithmetic into negative offsets (copyOfRange / fourcc threw),
        // failing the whole task against the module's skip-don't-fail
        // contract
        val sz = u32(p + 4) // 0 .. 2^32-1, never negative
        val dataStart = p + 8
        val dataEnd = math.min(end.toLong, dataStart.toLong + sz).toInt
        if (id == "RIFF" || id == "LIST") {
          if (dataStart + 4 <= dataEnd) walk(dataStart + 4, dataEnd)
        } else if (id.length == 4 && (id.endsWith("dc") || id.endsWith("db")) &&
            id.take(2).forall(_.isDigit) && sz > 0 && dataStart < dataEnd) {
          frames += java.util.Arrays.copyOfRange(bytes, dataStart, dataEnd)
        }
        // sz ≥ 0, so the cursor always advances ≥ 8 bytes; clamp keeps
        // the Long sum from wrapping back into range
        p = math.min(dataStart.toLong + sz + (sz & 1L), end.toLong).toInt
      }
    }
    walk(0, bytes.length)
    frames.toIndexedSeq
  }

  /** Audio waveform stats per asset (sample count / mean / RMS).
    * RIFF/WAV payloads get a REAL PCM decode via the JDK-builtin
    * `javax.sound.sampled` (16-bit samples normalized to [-1, 1]);
    * anything else treats bytes as i8 samples (deterministic fallback,
    * keeps synthetic corpora flowing). */
  def audioStats(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    val schema = StructType(Seq(
      StructField("asset_id", StringType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("mean_amp", DoubleType, nullable = false),
      StructField("rms", DoubleType, nullable = false)))
    val rdd = assets.filter(col("modality") === "audio" && col("bytes").isNotNull)
      .select("asset_id", "bytes").rdd.mapPartitions { it =>
        it.map { row =>
          val b = row.getAs[Array[Byte]]("bytes")
          val samples = decodePcm(b)
          var sum = 0.0; var sq = 0.0
          samples.foreach { s => sum += s; sq += s * s }
          val n = math.max(1, samples.length)
          Row(row.getString(0), samples.length.toLong, sum / n, math.sqrt(sq / n))
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** WAV → normalized double samples via javax.sound; else i8 fallback. */
  private[ops] def decodePcm(bytes: Array[Byte]): Array[Double] = {
    val isWav = bytes.length > 12 && bytes(0) == 'R' && bytes(1) == 'I' &&
      bytes(2) == 'F' && bytes(3) == 'F'
    if (isWav) {
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val fmt = in.getFormat
          val frameBytes = math.max(1, fmt.getFrameSize)
          val raw = in.readAllBytes()
          val bits = fmt.getSampleSizeInBits
          val bigEndian = fmt.isBigEndian
          val n = raw.length / frameBytes
          val out = new Array[Double](n)
          var i = 0
          while (i < n) {
            val off = i * frameBytes // first channel of the frame
            out(i) = bits match {
              case 16 =>
                val lo = raw(off + (if (bigEndian) 1 else 0)) & 0xFF
                val hi = raw(off + (if (bigEndian) 0 else 1))
                ((hi << 8) | lo).toShort / 32768.0
              case 8 => ((raw(off) & 0xFF) - 128) / 128.0 // WAV u8 PCM
              case _ => raw(off).toDouble / 128.0
            }
            i += 1
          }
          out
        } finally in.close()
      } catch {
        case _: Exception => bytes.map(_.toDouble) // malformed RIFF
      }
    } else bytes.map(_.toDouble) // i8 fallback (synthetic fixtures)
  }
}

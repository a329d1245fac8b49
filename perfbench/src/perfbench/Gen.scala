package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.core.Document

/**
 * Seeded input generation. Every row comes from its own generator keyed
 * by (seed, stream, row id), so a row is the same however Spark
 * partitions the range that produces it, and the driver can regenerate
 * any row for the oracle without collecting it.
 */
object Gen {
  // row streams: one per kind of generated value
  val DocStream = 1L
  val QueryStream = 2L
  val BatchStream = 3L

  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def rng(seed: Long, stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) + stream) + id))

  /** Gaussian vector scaled to unit length. */
  def unitVector(r: SplittableRandom, dim: Int): Array[Float] = {
    val v = new Array[Double](dim)
    var ss = 0.0
    var i = 0
    while (i < dim) { val g = r.nextGaussian(); v(i) = g; ss += g * g; i += 1 }
    val inv = 1.0 / math.sqrt(ss)
    Array.tabulate(dim)(j => (v(j) * inv).toFloat)
  }

  /** 1000 lower-case pseudo-words, the same for every seed. */
  val Vocab: Array[String] = {
    val r = new SplittableRandom(7L)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    Array.fill(1000)(Array.fill(3 + r.nextInt(6))(letters.charAt(r.nextInt(26))).mkString).distinct
  }

  /** Space-separated vocabulary words, cut to exactly `chars` characters. */
  def content(r: SplittableRandom, chars: Int): String = {
    val sb = new java.lang.StringBuilder(chars + 16)
    while (sb.length < chars) {
      if (sb.length > 0) sb.append(' ')
      sb.append(Vocab(r.nextInt(Vocab.length)))
    }
    sb.setLength(chars)
    sb.toString
  }

  /** Document `i` of a corpus: unit vector, content, {i, bucket = i % 10}
    * plus `extra` metadata. */
  def doc(seed: Long, id: String, i: Long, dim: Int, chars: Int,
      extra: Map[String, String] = Map.empty): Document = {
    val r = rng(seed, DocStream, i)
    val v = unitVector(r, dim)
    val c = if (chars > 0) content(r, chars) else null
    Document(id, Map("i" -> i.toString, "bucket" -> (i % 10).toString) ++ extra, v, c)
  }

  def docId(prefix: String, i: Long): String = f"$prefix$i%07d"

  /** Rows [from, until) as a DataFrame with Document.schema, generated on
    * the executors and cached, so the program reads finished rows. */
  def corpusDF(spark: SparkSession, from: Long, until: Long, parts: Int)(
      gen: Long => Document): DataFrame = {
    import spark.implicits._
    val ds = spark.range(from, until, 1, parts).as[Long].mapPartitions(_.map(gen))
    val df = ds.toDF().persist(StorageLevel.MEMORY_ONLY)
    df.count()
    df
  }

  def queryVector(seed: Long, q: Long, dim: Int): Array[Float] =
    unitVector(rng(seed, QueryStream, q), dim)
}

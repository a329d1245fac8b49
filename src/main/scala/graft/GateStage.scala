package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/**
 * Parquet staging for correctness-gate intermediates.
 *
 * Some gate queries start from data no SQL oracle can derive (image /
 * PCM / AVI decode). Their DOWNSTREAM algebra (banded-Hamming candidate
 * joins, popcount verify, shared-keyframe joins) is perfectly
 * SQL-expressible, so the gate stages the decode OUTPUT — exact int64
 * fingerprints — as a parquet intermediate at a fixed path, recomputes
 * the pairing from the staged frame, and the DuckDB oracle replays the
 * pairing from the SAME staged bytes. Decode itself stays spec-tested
 * against real fixtures (MultimodalSpec); the stage turns the pairing
 * half of those entries from rows-only into hash-gated.
 *
 * The path lives under the build's target/ dir (absolute, because the
 * oracle runs as a separate DuckDB process with its own cwd) and is
 * overwritten per run, so the oracle always sees the bytes of the
 * Verify pass that just ran.
 */
object GateStage {

  /** Absolute staging root under the working directory's target/ — the
    * oracle runs as a separate DuckDB process with its own cwd, so the
    * path cannot be relative. */
  val Root: String = new java.io.File("target/gate_stage").getAbsolutePath

  // (stage name, scope) → path of the bytes written for it in this JVM.
  // Both Verify mains run every query BEFORE dumping oracle_sql.json, so
  // the glob the oracle receives always points at the bytes of the run
  // that just produced the Spark-side parquet — even when runs at
  // different scale factors interleave (each scope suffixes its own
  // directory, nothing clobbers, and the map keeps every scope instead
  // of only the last one written).
  private val staged =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** Write `df` to the named stage (overwrite; keyed by `scope`, e.g.
    * the sf dir, so concurrent/interleaved runs don't clobber each
    * other's bytes) and read it back, so the caller's downstream plan
    * consumes exactly the staged bytes. */
  def stage(spark: SparkSession, name: String, scope: String,
      df: DataFrame): DataFrame = {
    val suffix = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(scope).toLong & 0xFFFFFFFFL)
    val path = s"$Root/${name}_$suffix"
    df.write.mode("overwrite").parquet(path)
    staged.put((name, scope), path)
    spark.read.parquet(path)
  }

  /** The glob the DuckDB oracle uses to read a stage — resolved against
    * this JVM's writes (the Verify contract: queries run first, oracle
    * SQL is dumped after). A stage that was NEVER written in this JVM
    * (e.g. its gate query failed upstream of `stage()`) resolves to a
    * sentinel path under `__MISSING_STAGE__` — the oracle then fails
    * with that unambiguous token in its read error instead of a
    * plausible-looking but never-created directory. If one JVM staged
    * the same name under several scopes, the dump cannot know which run
    * it belongs to, so that too is a loud sentinel (`__AMBIGUOUS_STAGE__`)
    * rather than a silent last-write-wins. */
  def oracleGlob(name: String): String = {
    val paths = new java.util.ArrayList[String]()
    staged.forEach((k, v) => if (k._1 == name) paths.add(v))
    paths.size match {
      case 1 => s"${paths.get(0)}/*.parquet"
      case 0 => s"$Root/__MISSING_STAGE__/$name/*.parquet"
      case _ => s"$Root/__AMBIGUOUS_STAGE__/$name/*.parquet"
    }
  }

  /** Scope-explicit resolution for JVMs that legitimately stage one name
    * under several scopes (e.g. a spec driving two sf dirs). */
  def oracleGlob(name: String, scope: String): String =
    staged.asScala.getOrElse((name, scope),
      s"$Root/__MISSING_STAGE__/$name") + "/*.parquet"
}

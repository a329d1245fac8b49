package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/**
 * Plan-capture utility for the optimization rounds: writes the
 * `explain("formatted")` output of each named declared query (or every
 * query when no names are given) to `<outDir>/<name>.txt`. Same session
 * shape as [[Bench]] (master/partitions from SPARK_GRAFT_CPUS) so the
 * captured plans are the ones the bench actually runs.
 *
 * Usage: runMain graft.ExplainDump <sfDir> <outDir> [name ...]
 */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainDump <sfDir> <outDir> [name ...]")
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // dedup_overlap_kmv's RESULT frame is a driver-combined
    // LocalTableScan (the sketches are computed eagerly inside the op),
    // so the plan that matters — the per-corpus sketch pass — is dumped
    // under a pseudo-name: the current Dedup.corpusSketchKmv shape, and
    // `kmv_sketch_pass_frozen_r14` reconstructs the r14 chain verbatim
    // (per-gram slice+concat_ws strings, explode, per-row kmvHash60)
    // for the before/after diff.
    names.filter(_.startsWith("kmv_sketch_pass")).foreach { name =>
      import org.apache.spark.sql.functions._
      import graft.functions.KmvDistinct
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 0)
      val toks = split(lower(col("text")), " ")
      val frame =
        if (name.endsWith("frozen_r14")) {
          val sh = when(size(toks) < 8, array(concat_ws(" ", toks)))
            .otherwise(transform(sequence(lit(0), size(toks) - 8),
              i => concat_ws(" ", slice(toks, i + 1, lit(8)))))
          docs.select(explode(sh).as("g"))
            .select(KmvDistinct.kmvHash60(col("g")).as("h"))
            .agg(KmvDistinct.kmv_set(col("h"), 1024))
        } else
          // the CURRENT shape comes from the op's own frame constructor,
          // so this dump cannot drift from what the bench runs (r16)
          graft.ops.Dedup.corpusSketchKmvFrame(docs, "text", 8, 1024)
      java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"),
        frame.queryExecution.explainString(ExplainMode.fromString("formatted")))
      println(s"[explain] wrote $name")
    }
    // The quantile sketch tier's declared frame is a driver-combined
    // LocalTableScan — the plan that matters is the SAMPLE pass (filter
    // + profiled-column projection feeding the persist). Same pseudo-
    // entry convention as kmv_sketch_pass: the current shape calls the
    // op's own frame constructor; `_frozen_r15` reconstructs the
    // r14–r15 hex-string chain (substring(md5(concat_ws))<rateHex, no
    // column pruning before the cache) for the before/after diff.
    names.filter(_.startsWith("quantile_sample_pass")).foreach { name =>
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val keys = Seq("l_orderkey", "l_linenumber")
      val rate = 65536.0 / math.max(1L, li.count())
      val frame =
        if (name.endsWith("frozen_r15"))
          li.filter(substring(md5(concat_ws("|",
              keys.map(k => col(k).cast("string")): _*)), 1, 4)
            < lit(graft.ops.Splits.rateHex(rate)))
        else
          graft.ops.Profile.quantileSampleFrame(li, cols, keys, rate)
      java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"),
        frame.queryExecution.explainString(ExplainMode.fromString("formatted")))
      println(s"[explain] wrote $name")
    }
    names.filterNot(n => n.startsWith("kmv_sketch_pass") ||
        n.startsWith("quantile_sample_pass")).foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[explain] unknown query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              ExplainMode.fromString("formatted"))
            java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"), txt)
            println(s"[explain] wrote $name")
          } catch {
            case e: Throwable =>
              System.err.println(s"[explain] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}

package perfbench

import scala.collection.mutable

/** The metric names and units the benchmark reports (BENCHMARK.json
  * lists the same). Every workload reports every end-to-end metric; a
  * traced run reports every per-layer metric, 0 for a layer that its
  * workload does not exercise. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_wall_ms" -> "ms",
    "op_cpu_ms" -> "ms",
    "heap_mb" -> "MB")

  val PipelineEntries: Seq[String] = Seq(
    "dedup_subsets", "dedup_cosine_pairs", "profile_stats", "profile_corr",
    "events_json_props", "text_quality")

  val PerLayer: Seq[(String, String)] = Seq(
    // query path, outside in
    "trace.query_p50_ms" -> "ms",
    "trace.filtered_query_p50_ms" -> "ms",
    "trace.untraced_query_p50_ms" -> "ms",
    "trace.overhead_ms" -> "ms",
    "ops.vector_index.topk_ms_p50" -> "ms",
    "ops.vector_index.distributed_topk_ms_p50" -> "ms",
    "core.collection.materialize_ms_p50" -> "ms",
    "core.collection.other_ms_p50" -> "ms",
    "core.filters.scan_ms_p50" -> "ms",
    "functions.score_topk_ms_p50" -> "ms",
    "core.collection.filtered_other_ms_p50" -> "ms",
    "spark.jobs_per_query" -> "count",
    "spark.stages_per_query" -> "count",
    "spark.tasks_per_query" -> "count",
    "spark.codegen_compiles_per_query" -> "count",
    "jvm.gc_ms_per_query" -> "ms",
    // set-up
    "core.add_df_s" -> "s",
    "core.build_index_s" -> "s",
    "ops.vector_index.build_s" -> "s",
    // write path
    "spark.jobs_per_upsert" -> "count",
    "spark.shuffle_bytes_per_upsert" -> "bytes",
    "persist.bytes_written_per_upsert" -> "bytes",
    "persist.write_amplification" -> "ratio",
    "persist.stored_bytes_per_user_byte" -> "ratio",
    "core.df_query_ms_p50" -> "ms",
    "core.delete_ms_p50" -> "ms",
    "persist.export_plain_s" -> "s",
    "persist.export_aes_s" -> "s",
    "persist.import_plain_s" -> "s",
    "persist.import_gzip_s" -> "s",
    "persist.import_aes_s" -> "s",
    "persist.snapshot_mb" -> "MB",
    "core.reopen_s" -> "s",
    // pipeline
    "pipeline.pass_s" -> "s") ++
    PipelineEntries.flatMap { e =>
      Seq(s"pipeline.${e}_s" -> "s", s"pipeline.$e.jobs" -> "count",
        s"pipeline.$e.tasks" -> "count", s"pipeline.$e.input_bytes" -> "bytes",
        s"pipeline.$e.shuffle_bytes" -> "bytes", s"pipeline.$e.spill_bytes" -> "bytes",
        s"pipeline.$e.compiles" -> "count")
    }
}

/** Outcome of one run: operation counts, metric values and the notes
  * printed for a human before the JSON result line. */
final class Report {
  private val values = mutable.LinkedHashMap.empty[String, Double]
  private val notes = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  def attempt(ok: Boolean, what: => String = ""): Unit = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failed <= 20) note(s"FAILED: $what")
    }
  }

  /** Runs one checked operation; an exception counts as a failure. */
  def guard(what: String)(body: => Boolean): Unit = {
    val ok = try body catch {
      case e: Exception => note(s"$what threw ${e.getClass.getName}: ${e.getMessage}"); false
    }
    attempt(ok, what)
  }

  /** A value that could not be measured in this run (NaN, e.g. the
    * median of no samples) is left out and so reads as 0. */
  def set(name: String, value: Double): Unit = synchronized {
    if (!value.isNaN) values(name) = value
  }
  def all: Seq[(String, Double)] = synchronized(values.toSeq)
  def note(s: String): Unit = synchronized { notes += s }

  def printHuman(): Unit = {
    notes.foreach(n => println(s"perfbench: $n"))
    values.foreach { case (k, v) => println(f"perfbench: $k%-45s $v%.6g") }
    val ratio = if (attempted == 0) 0.0 else failed.toDouble / attempted
    println(f"perfbench: failed_ops_ratio $ratio%.6g ($failed of $attempted)")
  }

  def json(spec: Seq[(String, String)]): String = {
    val ms = spec.map { case (name, unit) =>
      val v = values.getOrElse(name, 0.0)
      s""""$name": {"value": ${Json.num(v)}, "unit": "$unit"}"""
    }
    val correct = failed == 0 && attempted > 0
    s"""{"correct": $correct, "attempted": ${math.max(attempted, 1L)}, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def str(s: String): String = graft.persist.Json.str(s)
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length

  def timeNs[A](body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = body
    (a, System.nanoTime() - t0)
  }
  def ms(ns: Long): Double = ns / 1e6
  def s(ns: Long): Double = ns / 1e9
}

/**
 * Wall and CPU time of a run's timed operations, by kind of operation
 * (query_local: unfiltered and filtered queries; write_mix: upserts;
 * pipeline: one kind per entry). CPU time is summed over the JVM's Java
 * threads (caller, Spark task threads, the local scan pool): JIT compiler
 * and GC threads do not count, nor does time the hypervisor steals from
 * the guest. Wall time counts everything the caller waits for.
 */
final class OpTimer {
  private val wallMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val cpuMs = mutable.ArrayBuffer.empty[Double]

  def apply[A](kind: String)(body: => A): (A, Long) = {
    val c0 = OpTimer.cpuNs()
    val t0 = System.nanoTime()
    val a = body
    val ns = System.nanoTime() - t0
    cpuMs += Stats.ms(OpTimer.cpuNs() - c0)
    wallMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += Stats.ms(ns)
    (a, ns)
  }

  def count: Int = cpuMs.length

  def medianMs(kind: String): Double =
    wallMs.get(kind).map(w => Stats.median(w.toSeq)).getOrElse(Double.NaN)

  /** op_wall_ms: each kind's median wall time, weighted by its share of
    * the operations (a median per kind, so the mix of fast and slow kinds
    * cannot move it); op_cpu_ms: mean CPU time per operation. Each kind's
    * p50 and p90 are printed for a human, with the sample count. */
  def report(r: Report): Unit = {
    val n = count.toDouble
    r.set("op_wall_ms", wallMs.valuesIterator.map(w => w.length / n * Stats.median(w.toSeq)).sum)
    r.set("op_cpu_ms", Stats.mean(cpuMs.toSeq))
    wallMs.foreach { case (kind, w) =>
      r.note(f"$kind: ${w.length} timed, wall p50 ${Stats.median(w.toSeq)}%.2f ms, " +
        f"p90 ${Stats.quantile(w.toSeq, 0.9)}%.2f ms")
    }
  }
}

object OpTimer {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  def cpuNs(): Long = {
    var t = 0L
    threads.getAllThreadIds.foreach { id =>
      val c = threads.getThreadCpuTime(id)
      if (c > 0) t += c
    }
    t
  }
}

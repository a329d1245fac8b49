package perfbench

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (run.py fills the machine-derived
  * fields: cores, scratch dir, output dir). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    scratch: String,
    out: String,
    benchDir: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      cores = need("cores").toInt,
      scratch = need("scratch"),
      out = need("out"),
      benchDir = need("bench-dir"))
  }
}

/** Everything a workload needs: the session, the arguments, the report
  * it fills and, in a traced run, the tracer. */
final class Ctx(val spark: SparkSession, val args: Args, val report: Report) {
  private val t0 = System.nanoTime()

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans

  /** Notes how far into the run a phase ends, with the JIT compiler and
    * GC time spent so far (wall-clock budget and steadiness aid). */
  def phase(name: String): Unit = {
    var gcMs = 0L
    gcs.forEach(g => gcMs += g.getCollectionTime)
    report.note(f"$name done at ${Stats.s(System.nanoTime() - t0)}%.1f s " +
      f"(JIT ${jit.getTotalCompilationTime / 1e3}%.1f s, GC ${gcMs / 1e3}%.1f s)")
  }
  val tracer: Option[Tracer] = if (args.trace) Some(new Tracer(spark)) else None

  /** Closed loop, one client: runs `step(i)` until `seconds` of wall time
    * have passed, stopping only after a whole number of `unit` steps. */
  def loop(seconds: Double, unit: Int = 1)(step: Int => Unit): Int = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || i % unit != 0 || System.nanoTime() < end) { step(i); i += 1 }
    i
  }
}

object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "query_local" -> QueryWorkload.run,
    "write_mix" -> WriteMix.run,
    "pipeline" -> PipelineWorkload.run)

  /** Spark on local[cores], every local file under `scratch`. */
  def session(cores: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val work = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    val spark = session(args.cores, args.scratch)
    val report = new Report
    val ctx = new Ctx(spark, args, report)
    try {
      work(ctx)
      ctx.tracer.foreach(_.write(args, report))
    } finally {
      ctx.tracer.foreach(_.close())
      spark.stop()
      ctx.phase("spark stop")
    }
    report.printHuman()
    println(report.json(if (args.trace) Metrics.PerLayer else Metrics.EndToEnd))
  }
}

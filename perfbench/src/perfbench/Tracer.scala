package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work counted by a listener: one snapshot per layer boundary. */
final case class Counters(
    jobs: Long, stages: Long, tasks: Long, inputBytes: Long,
    shuffleBytes: Long, spillBytes: Long, compiles: Long, gcMs: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, inputBytes - o.inputBytes, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes, compiles - o.compiles, gcMs - o.gcMs)
}

/** One span: a layer boundary crossed by request `req`. `parent` is the
  * index of the enclosing span, -1 for a request's root. */
final case class Span(name: String, req: Long, parent: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/**
 * Outside-in tracer of a traced run. Spans are recorded by the
 * benchmark around its calls into each module's public functions; the
 * program itself is not instrumented. Spans stay in memory and are
 * written, with each span name's self time, when the run ends.
 */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextReq = 0L
  private var currentReq = -1L

  private val jobs, stages, tasks, inputBytes, shuffleBytes, spillBytes = new AtomicLong
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.diskBytesSpilled)
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** Counter snapshot after the listener bus has delivered every event.
    * `compiles` counts whole-stage codegen compilations (Spark's codegen
    * metrics source), `gcMs` the JVM's collection time. */
  def counters(): Counters = {
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
    Counters(jobs.get, stages.get, tasks.get, inputBytes.get, shuffleBytes.get,
      spillBytes.get,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      gcBeans.map(_.getCollectionTime).sum)
  }

  /** Runs `body` as the root span of a new request. */
  def request[A](name: String)(body: => A): A = {
    currentReq = nextReq; nextReq += 1
    try span(name)(body) finally currentReq = -1L
  }

  /** Runs `body` as a span under the innermost open span. */
  def span[A](name: String)(body: => A): A = {
    val parent = if (open.isEmpty) -1 else open.top
    val idx = spans.length
    spans += Span(name, currentReq, parent, System.nanoTime(), 0L)
    open.push(idx)
    try body
    finally {
      open.pop()
      spans(idx) = spans(idx).copy(endNs = System.nanoTime())
    }
  }

  /** `body`'s result, wall time and Spark/GC counters, as a span. */
  def measured[A](name: String)(body: => A): (A, Long, Counters) = {
    val c0 = counters()
    val (a, ns) = Stats.timeNs(span(name)(body))
    (a, ns, counters() - c0)
  }

  /** Self time per span: duration minus the union of its children. */
  def selfTimesNs(): Array[Long] = {
    val children = spans.indices.groupBy(i => spans(i).parent)
    spans.indices.map { i =>
      val kids = children.getOrElse(i, Seq.empty).map(spans(_)).sortBy(_.startNs)
      var covered = 0L
      var reach = spans(i).startNs
      kids.foreach { k =>
        val from = math.max(k.startNs, reach)
        if (k.endNs > from) { covered += k.endNs - from; reach = k.endNs }
      }
      spans(i).durNs - covered
    }.toArray
  }

  /** Writes the spans, per-name self time and every value the run
    * reported (the per-layer metrics and the layers-sum check among them)
    * to <out>/trace_<workload>_seed<seed>.json. */
  def write(args: Args, report: Report): Unit = {
    val self = selfTimesNs()
    val t0 = if (spans.isEmpty) 0L else spans.head.startNs
    val spanJson = spans.indices.map { i =>
      val s = spans(i)
      s"""{"name": ${Json.str(s.name)}, "req": ${s.req}, "parent": ${s.parent}, """ +
        s""""start_us": ${(s.startNs - t0) / 1000}, "end_us": ${(s.endNs - t0) / 1000}, """ +
        s""""self_us": ${self(i) / 1000}}"""
    }
    val byName = spans.indices.groupBy(i => spans(i).name).toSeq.sortBy(_._1).map {
      case (name, idx) =>
        val selfMs = idx.map(i => Stats.ms(self(i)))
        s"""${Json.str(name)}: {"count": ${idx.length}, "self_ms_total": """ +
          s"""${Json.num(selfMs.sum)}, "self_ms_p50": ${Json.num(Stats.median(selfMs))}}"""
    }
    val values = report.all.map { case (n, v) => s"${Json.str(n)}: ${Json.num(v)}" }
    val path = java.nio.file.Paths.get(args.out, s"trace_${args.workload}_seed${args.seed}.json")
    val body = s"""{"workload": ${Json.str(args.workload)}, "seed": ${args.seed}, """ +
      s""""values": {${values.mkString(", ")}},\n"self_time": {${byName.mkString(",\n")}},\n""" +
      s""""spans": [\n${spanJson.mkString(",\n")}\n]}\n"""
    java.nio.file.Files.write(path, body.getBytes("UTF-8"))
    report.note(s"trace written to $path (${spans.length} spans)")
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

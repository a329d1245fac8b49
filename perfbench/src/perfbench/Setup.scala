package perfbench

import java.lang.management.ManagementFactory

import scala.collection.parallel.CollectionConverters._
import scala.reflect.ClassTag

object Setup {

  /** Runs the set-up `reps` times and reports setup_s, the median. Every
    * repetition but the last is torn down with `drop`, and the Spark
    * blocks it cached are released, so each starts from the same state.
    * Returns what the last repetition built. */
  def repeat[A](ctx: Ctx, reps: Int)(build: Int => A)(drop: (Int, A) => Unit): A = {
    val sc = ctx.spark.sparkContext
    var last: Option[A] = None
    val secs = (0 until reps).map { r =>
      val before = sc.getPersistentRDDs.keySet
      val (a, ns) = Stats.timeNs(build(r))
      if (r < reps - 1) {
        drop(r, a)
        (sc.getPersistentRDDs.keySet -- before).foreach(id =>
          sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
      } else last = Some(a)
      Stats.s(ns)
    }
    ctx.report.set("setup_s", Stats.median(secs))
    ctx.report.note("set-up times (s): " + secs.map(s => f"$s%.3f").mkString(" "))
    last.get
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }

  /** heap_mb: heap in use right after a full GC, at the end of set-up.
    * Spark frees some memory only after a GC and asynchronously (queued
    * listener events, blocks of a non-blocking unpersist, state the
    * ContextCleaner releases once its owner is collected), so each round
    * collects, drains the listener bus and waits until Spark's block
    * storage stops changing; the reading is the least of the rounds. */
  def reportHeap(ctx: Ctx): Unit = {
    val sc = ctx.spark.sparkContext
    val mem = ManagementFactory.getMemoryMXBean
    def stored() = sc.getExecutorMemoryStatus.valuesIterator.map { case (max, free) => max - free }.sum
    def settle(): Unit = {
      org.apache.spark.PerfbenchBridge.drain(sc)
      val deadline = System.nanoTime() + 3000000000L
      var last = stored()
      var steady = 0
      while (steady < 4 && System.nanoTime() < deadline) {
        Thread.sleep(50)
        val now = stored()
        steady = if (now == last) steady + 1 else 0
        last = now
      }
    }
    val used = (1 to 3).map { _ =>
      System.gc(); settle(); Thread.sleep(100); System.gc(); mem.getHeapMemoryUsage.getUsed
    }.min
    ctx.report.set("heap_mb", used / 1048576.0)
  }
}

/** Driver-side parallel helpers for generating oracle data and checking
  * results, which would otherwise dominate a run's wall time. */
object Par {
  def tabulate[A: ClassTag](n: Int)(f: Int => A): Array[A] = {
    val out = new Array[A](n)
    (0 until n).par.foreach(i => out(i) = f(i))
    out
  }
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = xs.par.map(f).seq
}

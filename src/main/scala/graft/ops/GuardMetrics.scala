package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Loud-drop plumbing for the bucket-skew guard of [[Dedup.bandedPairs]]:
 * the guard's oversized-bucket aggregate runs inside the main action
 * (an `observe()` metric on the broadcast build side), and this
 * listener turns every observed non-empty drop into a WARN, so caps are
 * never silent without a dedicated stats job per guard.
 *
 * An action that fails after the guard ran reports its drop as well,
 * with "(action failed)" appended to the WARN.
 *
 * Registration is idempotent per session (weak keys — a stopped test
 * session must not pin the map). The listener bus delivers its events
 * asynchronously, so the WARN trails the action by bus latency; specs
 * poll [[lastDrop]] rather than the log.
 */
private[graft] object GuardMetrics {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Observe-metric name prefix; the suffix is the guarded op's name. */
  val Prefix = "graft_dedup_guard_"

  /** Test hook: the most recent observed drop (op, nBuckets, nRows),
    * set only when nBuckets > 0 — the same condition that WARNs. */
  @volatile private[graft] var lastDrop: Option[(String, Long, Long)] = None
  /** Test hook: total guard metrics SEEN (drop or not) — proves the
    * CollectMetrics node survives broadcast builds and AQE. */
  private[graft] val seen = new java.util.concurrent.atomic.AtomicLong

  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def register(spark: SparkSession): Unit = {
    val first = registered.synchronized {
      registered.put(spark, java.lang.Boolean.TRUE) == null
    }
    if (!first) return
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = report(qe, "")
      // the guard's build side may have run (and dropped buckets) before
      // a later stage failed: that drop is reported too. An action that
      // failed while planning has no plan to read metrics from.
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit =
        try report(qe, " (action failed)")
        catch { case scala.util.control.NonFatal(_) => () }
    })
  }

  /** WARN and record every non-empty guard drop the action observed. */
  private def report(qe: QueryExecution, suffix: String): Unit =
    qe.observedMetrics.foreach { case (name, row) =>
      if (name.startsWith(Prefix)) {
        seen.incrementAndGet()
        val op = name.stripPrefix(Prefix)
        val nb = row.getLong(0)
        val nr = row.getLong(1)
        val cap = row.getLong(2)
        if (nb > 0) {
          lastDrop = Some((op, nb, nr))
          log.warn(s"$op: dropping $nb oversized LSH bucket(s) " +
            s"(> $cap rows each, $nr banded rows skipped). " +
            "Near-dups inside dropped buckets are NOT paired here — " +
            "run exact dedup first (identical docs fill every bucket) " +
            "or raise maxBucketSize." + suffix)
        }
      }
    }
}

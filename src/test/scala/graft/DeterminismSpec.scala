package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, StructType}

/**
 * Every gate query must be value-deterministic across runs: the driver
 * hash-compares Verify output against a DuckDB oracle, so ANY
 * nondeterminism (float accumulation reorder, unstable tie-breaks,
 * time/random dependence) shows up as a flaky gate. Running each query
 * twice and comparing collected rows (order-insensitive — the driver
 * sorts before hashing) pins the property at test time instead of
 * discovering it in a red round.
 */
class DeterminismSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  /** Per gate query, by name: its schema, the rows of its first run, and
    * whether a second run returned the same rows. Both tests read this
    * one pair of runs. */
  private lazy val runs: Seq[(String, StructType, Array[Row], Boolean)] = withLogLevel {
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, dir)
      val first = df.collect()
      def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).sorted.toSeq
      (name, df.schema, first, sorted(first) == sorted(fn(spark, dir).collect()))
    }
  }

  test("every gate query returns identical rows on a second run") {
    val diffs = runs.collect { case (name, _, _, false) => name }
    assert(diffs.isEmpty, s"nondeterministic gate queries: $diffs")
  }

  test("no gate query emits IEEE -0.0 in a double column") {
    // The driver's comparator renders doubles canonically, so -0.0 and
    // 0.0 hash DIFFERENTLY. Spark's HALF_UP round always returns +0.0,
    // and several oracles rely on that by normalizing the DuckDB side
    // with `+ 0.0` (events_zscore, q_normalize_elem — r9 sf0.1 census).
    // A future gate projection that skips the round() convention and
    // leaks a signed zero would diverge only at the sf where real data
    // lands exactly on zero; this pins the invariant at test time.
    val offenders = runs.flatMap { case (name, schema, rows, _) =>
      val doubleCols = schema.fields.collect { case f if f.dataType == DoubleType => f.name }
      val hasNegZero = doubleCols.nonEmpty && rows.exists(r => doubleCols.exists { c =>
        val i = r.fieldIndex(c)
        !r.isNullAt(i) &&
          java.lang.Double.doubleToRawLongBits(r.getDouble(i)) ==
            java.lang.Double.doubleToRawLongBits(-0.0)
      })
      if (hasNegZero) Some(name) else None
    }
    assert(offenders.isEmpty, s"gate queries emitting -0.0: $offenders")
  }
}

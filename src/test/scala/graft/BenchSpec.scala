package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

/** The pure pieces of the bench harness (no SparkSession): the sample
  * summary, what `total` sums, the JSON rendering and the line order. */
class BenchSpec extends AnyFunSuite {

  test("Stats.of gives median, min and max/min spread for odd and even counts") {
    val odd = Bench.Stats.of(Seq(0.75, 0.25, 0.5))
    assert(odd === Bench.Stats(0.5, 0.25, 3.0, 0.0))
    val even = Bench.Stats.of(Seq(4.0, 1.0, 3.0, 2.0))
    assert(even.median === 2.5)
    assert(even.min === 1.0)
    assert(even.spread === 4.0)
    val one = Bench.Stats.of(Seq(0.5))
    assert(one === Bench.Stats(0.5, 0.5, 1.0, 0.0))
  }

  test("measure warms up, then interleaves work and control batch by batch") {
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    val stats = Bench.measure(1, 2, 2)(() => calls += "w", () => calls += "c")
    assert(calls.mkString === "wc" + "wwcc" + "wwcc")
    assert(stats.length === 2)
    assert(stats.forall(s => s.min >= 0 && s.median >= s.min && s.spread >= 1.0))
  }

  test("total sums the timed entries only") {
    val results = Seq(
      "q_similarity_topk" -> 1.0,
      "chromem_query_25000_d1536_k10" -> 2.0,
      "chromem_build_250000_d1536_big" -> 4.0,
      "chromem_query_100000_d1536_k10_scan_floor" -> 8.0,
      "q_failed" -> -1.0,
      "ambient_control_pre" -> 100.0,
      "ambient_control_end" -> 100.0,
      "chromem_datagen_250000_d1536_big" -> 100.0,
      "ann_recall_adc" -> 100.0,
      "ann_recall_rerank_np1" -> 100.0,
      "chromem_query_250000_d1536_k10_big_spread" -> 100.0,
      "chromem_build_250000_d1536_big_gcsec" -> 100.0,
      "chromem_query_250000_d1536_k10_big_minbatch" -> 100.0)
    assert(Bench.total(results) === 15.0)
  }

  test("fmt renders '.' decimals under a comma-decimal default locale") {
    val before = Locale.getDefault
    try {
      Locale.setDefault(Locale.GERMANY)
      assert(Bench.fmt(Seq("a" -> 0.12345, "b" -> 2.0)) === """{"a":0.1235,"b":2.0000}""")
    } finally Locale.setDefault(before)
    assert(Locale.getDefault === before)
  }

  test("the headline partition puts chromem, ambient-control and recall entries last") {
    val results = Seq(
      "chromem_query_25000_d1536_k10" -> 1.0,
      "q_similarity_topk" -> 1.0,
      "ambient_control_pre" -> 1.0,
      "profile_stats" -> 1.0,
      "ann_recall_adc" -> 1.0,
      "chromem_build_250000_d1536_big" -> 1.0)
    val (sweep, headline) = Bench.partition(results)
    assert(sweep.map(_._1) === Seq("q_similarity_topk", "profile_stats"))
    assert(headline.map(_._1) === Seq("chromem_query_25000_d1536_k10",
      "ambient_control_pre", "ann_recall_adc", "chromem_build_250000_d1536_big"))
  }
}

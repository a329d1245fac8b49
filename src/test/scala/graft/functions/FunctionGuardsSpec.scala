package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Pins for the analysis-time and merge-order guards on the custom
  * Catalyst expressions/aggregates: wrong input types must fail BEFORE
  * the job launches (getLong/getFloat over differently-typed element
  * storage silently misreads bytes), and aggregate merges must be
  * partial-arrival-order independent. */
class FunctionGuardsSpec extends SparkSuite {
  import spark.implicits._

  test("VectorSumLong merge treats an empty partial as identity from either side") {
    val agg = VectorSumLong(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(lit(1)))
    // a partition whose rows for the group were all NULL serializes an
    // empty partial; it must merge as identity regardless of arrival order
    assert(agg.merge(Array(1L, 2L), Array.emptyLongArray).toSeq === Seq(1L, 2L))
    assert(agg.merge(Array.emptyLongArray, Array(1L, 2L)).toSeq === Seq(1L, 2L))
    // genuine dimension mismatches still raise
    val e = intercept[IllegalArgumentException] {
      agg.merge(Array(1L, 2L), Array(3L))
    }
    assert(e.getMessage.contains("dimension mismatch"))
  }

  test("vector_sum_long sums across partitions with all-NULL partitions present") {
    // 4 partitions; two contain ONLY null vectors, so their partials are
    // empty and exercise the identity-merge path end-to-end
    val df = withLogLevel(Seq(
      (0, Some(Seq(1L, 10L))), (1, None), (2, None), (3, Some(Seq(2L, 20L)))
    ).toDF("p", "v").repartition(4, col("p")))
    val r = df.agg(VectorSumAggregate.vector_sum_long(col("v")))
      .head().getSeq[Long](0)
    assert(r === Seq(3L, 30L))
  }

  test("vector_sum_long rejects a zero-length input vector loudly") {
    val df = Seq(Seq.empty[Long], Seq(1L, 2L)).toDF("v")
    val e = intercept[Exception] {
      df.agg(VectorSumAggregate.vector_sum_long(col("v"))).collect()
    }
    assert(e.getMessage.contains("zero-length") ||
      Option(e.getCause).exists(_.getMessage.contains("zero-length")))
  }

  test("topk_rows rejects non-struct and 1-field payloads at analysis time") {
    val df = Seq((1.0, 2L)).toDF("score", "id")
    intercept[AnalysisException] {
      df.agg(TopKAggregate.topk_rows(col("score"), 3)).collect()
    }
    intercept[AnalysisException] {
      df.agg(TopKAggregate.topk_rows(struct(col("score")), 3)).collect()
    }
    // the documented payload shape still passes
    assert(df.agg(TopKAggregate.topk_rows(struct(col("score"), col("id")), 3))
      .count() === 1L)
  }

  test("SQL-registered hash kernels reject wrong element types at analysis time") {
    graft.GraftExtensions.register(spark)
    // array<int> storage read as array<bigint> would yield garbage longs
    intercept[AnalysisException] {
      spark.sql("SELECT jaccard_sorted(array(1, 2), array(2, 3))").collect()
    }
    intercept[AnalysisException] {
      spark.sql("SELECT minhash_signature(array(1, 2), 16, 1)").collect()
    }
    intercept[AnalysisException] {
      spark.sql("SELECT simhash64(array(1.0, 2.0))").collect()
    }
    intercept[AnalysisException] {
      spark.sql("SELECT shingle_hashes(array(1), 2)").collect()
    }
    // correct types still pass
    assert(spark.sql(
      "SELECT jaccard_sorted(array(1L, 2L), array(2L, 3L))").head().getDouble(0)
      === 1.0 / 3)
  }

  test("pq_encode rejects non-float32 vectors at analysis time") {
    val cb = Array.fill(2 * 2 * 1)(0.0)
    val dbl = Seq(Seq(1.0, 2.0)).toDF("v")
    intercept[AnalysisException] {
      dbl.select(PqFunctions.pq_encode(col("v"), cb, m = 2, k = 2, subDim = 1))
        .collect()
    }
    val flt = Seq(Seq(1.0f, 2.0f)).toDF("v")
    assert(flt.select(PqFunctions.pq_encode(col("v"), cb, 2, 2, 1)).count() === 1L)
  }

  test("column_stats buffer serializes to its 38-byte header plus 8 bytes per key and round-trips") {
    val buf = new ColumnStatsBuffer(1 << 10)
    Seq(3.5, -1.0, 0.0, -0.0, Double.NaN, 3.5, 1e300, -7.25).foreach(buf.addValue)
    buf.nNull = 2
    val bytes = buf.toBytes
    // n, n_null (8+8) · hasVal (1) · mn, mx (8+8) · hasZero (1) · size (4)
    assert(bytes.length === 38 + 8 * buf.size)
    val back = ColumnStatsBuffer.fromBytes(bytes, 1 << 10)
    assert((back.n, back.nNull, back.hasVal, back.hasZero, back.size) ===
      (buf.n, buf.nNull, buf.hasVal, buf.hasZero, buf.size))
    assert(java.lang.Double.compare(back.mn, buf.mn) == 0 &&
      java.lang.Double.compare(back.mx, buf.mx) == 0)
    assert(back.keys.filter(_ != 0L).sorted.toSeq === buf.keys.filter(_ != 0L).sorted.toSeq)
  }

  test("bucket_counts bounds maxEntries at the serializable ceiling") {
    intercept[IllegalArgumentException] {
      HistAgg.bucket_counts(col("x"), 1, maxEntries = Int.MaxValue)
    }
  }

  test("gram128 rejects zero-length vectors and null elements loudly") {
    // zero-length: would be conflated with the "no rows yet" buffer
    // marker, making the dimension check partition-order dependent
    val empty = Seq(Seq.empty[Long], Seq(1L, 2L)).toDF("v")
    val e1 = intercept[Exception] {
      empty.agg(GramOuterSum.gram128(col("v"))).collect()
    }
    assert((e1.getMessage + Option(e1.getCause).map(_.getMessage).getOrElse(""))
      .contains("zero-length"))
    // null element: getLong would silently read 0 and poison the moments
    val withNull = Seq(Seq[java.lang.Long](1L, null), Seq[java.lang.Long](1L, 2L))
      .toDF("v")
    val e2 = intercept[Exception] {
      withNull.agg(GramOuterSum.gram128(col("v"))).collect()
    }
    assert((e2.getMessage + Option(e2.getCause).map(_.getMessage).getOrElse(""))
      .contains("null element"))
  }

  test("int128 toDecimal names the decimal(38) overflow instead of an opaque precision error") {
    def words(bi: java.math.BigInteger): Array[Long] = {
      val lo = bi.and(new java.math.BigInteger("FFFFFFFFFFFFFFFF", 16)).longValue()
      val hi = bi.shiftRight(64).longValueExact()
      Array(hi, lo)
    }
    val tenPow38 = java.math.BigInteger.TEN.pow(38)
    // 1e38 has 39 digits: inside the 128-bit accumulator, outside decimal(38)
    val e = intercept[ArithmeticException] {
      Int128Sum.toDecimal(words(tenPow38))
    }
    assert(e.getMessage.contains("decimal(38,0)"))
    // 10^38 - 1 (the decimal(38) max) still converts
    assert(Int128Sum.toDecimal(words(tenPow38.subtract(java.math.BigInteger.ONE)))
      .toBigDecimal === BigDecimal(tenPow38.subtract(java.math.BigInteger.ONE)))
  }

  test("ngram kernels validate n >= 1 and stay null-correct") {
    val toks = Seq(Seq("a", "b", "a", "b")).toDF("t")
    val e = intercept[Exception] {
      toks.select(NgramStats.dup_ngram_stats(col("t"), lit(0))).collect()
    }
    assert((e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("n must be >= 1"))
    // dup stats over NON-NULLABLE children (split of a literal): before
    // the kernelNullable split this pattern generated an assignment to
    // the FalseLiteral isNull and silently fell back to interpreted
    val r = spark.range(1).select(NgramStats.dup_ngram_stats(
      split(lit("a b a b"), " "), lit(2)).as("s"))
      .select("s.n_tokens", "s.covered_tokens").head()
    assert(r.getLong(0) === 4L && r.getLong(1) === 4L) // "a b" ×2 covers all
  }

  test("SQL-registered vector/text kernels reject wrong input types at analysis time") {
    graft.GraftExtensions.register(spark)
    // array<double> read via getFloat misreads 4-byte strides — silent
    // garbage before the guard
    intercept[AnalysisException] {
      spark.sql("SELECT dot_f64(array(1.0, 0.0), array(1.0, 0.0))").collect()
    }
    intercept[AnalysisException] {
      spark.sql("SELECT l2_norm(array(1.0, 0.0))").collect()
    }
    intercept[AnalysisException] {
      spark.sql("SELECT fast_lang_id(42)").collect()
    }
    intercept[AnalysisException] {
      spark.sql("SELECT nfc_normalize(42)").collect()
    }
    // float32 arrays still pass
    assert(spark.sql(
      "SELECT dot_f32(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT)))")
      .head().getFloat(0) === 2.0f)
  }

  test("r12 guard sweep: vector_sum_long, trigram_keys, mg_sketch, might_contain_long fail analysis on wrong types") {
    // the silent-garbage class: toLongArray over array<int> storage reads
    // 8-byte strides across 4-byte elements
    intercept[AnalysisException] {
      Seq(Seq(1, 2)).toDF("v")
        .agg(VectorSumAggregate.vector_sum_long(col("v"))).collect()
    }
    intercept[AnalysisException] {
      Seq(1).toDF("x").select(LmFunctions.trigram_keys(col("x"))).collect()
    }
    intercept[AnalysisException] {
      Seq(1).toDF("x").agg(MisraGries.mg_sketch(col("x"), 4)).collect()
    }
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    intercept[AnalysisException] {
      Seq("a").toDF("x")
        .select(BloomFunctions.might_contain_long(col("x"), bf)).collect()
    }
    // the documented input types still pass
    assert(Seq(Seq(1L, 2L)).toDF("v")
      .agg(VectorSumAggregate.vector_sum_long(col("v")))
      .head().getSeq[Long](0) === Seq(1L, 2L))
  }

  test("BagCos.ge refuses zero-norm bags (cosine undefined, not vacuously similar)") {
    assert(!BagCos.ge(0L, 0L, 100L, 1L, 2L), "empty left bag")
    assert(!BagCos.ge(0L, 100L, 0L, 1L, 2L), "empty right bag")
    assert(!BagCos.ge(0L, 0L, 0L, 1L, 2L), "both empty")
    // genuine comparisons unaffected: cos=1 vs threshold 1/2
    assert(BagCos.ge(10L, 10L, 10L, 1L, 2L))
  }

  test("minhash rejects numHashes < 1 instead of emitting empty signatures") {
    val e = intercept[Exception] {
      Seq(Seq("a", "b")).toDF("t")
        .select(HashFunctions.minhash_signature(col("t"), 0)).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("numHashes")), s"got: ${chain(e)}")
  }

  test("ColumnMath.floorDiv stays exact past 2^53 where the old double-division form lost the answer") {
    val v = 9007199254740993L // 2^53 + 1, divisible by 3
    val got = Seq(v).toDF("v")
      .select(ColumnMath.floorDiv(col("v"), 3L)).head().getLong(0)
    assert(got === 3002399751580331L)
    // the removed Profile form routed the numerator through double:
    // (2^53 + 1) rounds to 2^53, and cast("long") TRUNCATES the
    // q - 1/3 quotient down to q-1 — this documents the divergence the
    // shared exact definition removes
    assert((v.toDouble / 3).toLong === 3002399751580330L)
    // floor (not truncate-toward-zero) on negatives, null propagates
    assert(Seq(-7L).toDF("v")
      .select(ColumnMath.floorDiv(col("v"), 3L)).head().getLong(0) === -3L)
    assert(Seq(Option.empty[Long]).toDF("v")
      .select(ColumnMath.floorDiv(col("v"), 3L)).head().isNullAt(0))
  }
}

package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.{Cohorts, Profile}

class ProfileCohortsSpec extends SparkSuite {
  import spark.implicits._

  test("numericProfile computes per-column stats in one row each") {
    val df = Seq(
      (1.0, Some(10.0)), (2.0, None), (2.0, Some(30.0)), (4.0, Some(10.0))
    ).toDF("a", "b")
    val r = Profile.numericProfile(df, Seq("a", "b")).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getDouble(4), x.getDouble(5)))).toMap
    assert(r("a") === ((4L, 0L, 3L, 1.0, 4.0)))
    assert(r("b") === ((4L, 1L, 2L, 10.0, 30.0)))
  }

  test("numericProfile validates column names") {
    intercept[IllegalArgumentException] {
      Profile.numericProfile(Seq(1).toDF("x"), Seq("nope"))
    }
    // the sketch tier's internal hash columns use the reserved __kmvh__
    // prefix; a user column there would collide in the projection
    intercept[IllegalArgumentException] {
      Profile.numericProfile(Seq(1).toDF("__kmvh__x"), Seq("__kmvh__x"))
    }
  }

  test("sketch tier keys integral columns RAW — no centi-quantization, no overflow (r15)") {
    // 997 distinct bigints near 1e17: round(v·100) would overflow long
    // (|v|·100 > 2⁶³) and silently wrap; the raw-key contract counts
    // them exactly (m < k regime)
    val big = withLogLevel(spark.range(0, 5000)
      .selectExpr("(id % 997) + 100000000000000000 AS a"))
    val r = Profile.numericProfile(big, Seq("a"), exact = false).collect().head
    assert(r.getLong(3) === 997L,
      s"raw integral keys must count big ids exactly, got ${r.getLong(3)}")
  }

  test("sketch tier fractional quantization is the documented contract; hashScale resolves it") {
    // doubles spaced 0.001 apart collapse at the default hashScale=100
    // (distinct CENTI-units: ids 0..499 → round(id·0.1) → 0..50);
    // hashScale=1000 resolves the column and counts all 500
    val df = withLogLevel(
      spark.range(0, 500).selectExpr("id * 0.001 AS a"))
    val centi = Profile.numericProfile(df, Seq("a"), exact = false)
      .collect().head
    assert(centi.getLong(3) === 51L,
      s"default hashScale counts centi-units, got ${centi.getLong(3)}")
    val milli = Profile.numericProfile(df, Seq("a"), exact = false,
      hashScale = 1000L).collect().head
    assert(milli.getLong(3) === 500L,
      s"hashScale=1000 must resolve the column, got ${milli.getLong(3)}")
  }

  test("sketch = hll swaps in HyperLogLog++ within its error band") {
    val df = withLogLevel(
      spark.range(0, 50000).selectExpr("cast(id % 9973 as double) AS a"))
    val r = Profile.numericProfile(df, Seq("a"), exact = false,
      sketch = "hll").collect().head
    assert(math.abs(r.getLong(3) - 9973.0) / 9973.0 < 0.10,
      s"HLL estimate ${r.getLong(3)} vs 9973 outside 10%")
    // n / nulls / min / max stay exact in the same pass
    assert(r.getLong(1) === 50000L && r.getLong(2) === 0L)
    assert(r.getDouble(4) === 0.0 && r.getDouble(5) === 9972.0)
    intercept[IllegalArgumentException] {
      Profile.numericProfile(df, Seq("a"), exact = false, sketch = "cuckoo")
    }
  }

  test("neither tier plans the multi-distinct EXPAND") {
    val df = Seq((1.0, 2.0), (3.0, 4.0)).toDF("a", "b")
    val exact = Profile.numericProfile(df, Seq("a", "b"))
      .queryExecution.executedPlan.toString
    val approx = Profile.numericProfile(df, Seq("a", "b"), exact = false)
      .queryExecution.executedPlan.toString
    // exact derives every metric from one compound buffer per column —
    // no countDistinct, so no EXPAND ×|cols| of the corpus
    assert(!exact.contains("Expand"), s"exact must not expand:\n$exact")
    assert(!approx.contains("Expand"), s"approx must not expand:\n$approx")
    // r16 shape: ONE scan, one partial+final aggregate pair, and no
    // join or Generate anywhere — the r15 stack + counts-table +
    // broadcast-restore chain is gone (empty-input rows now come from
    // the buffers themselves)
    assert(exact.linesIterator.count(_.contains("Scan")) <= 1,
      s"exact profile must be one corpus pass:\n$exact")
    assert(!exact.contains("Join"), s"exact must not join:\n$exact")
    // the only Generate is the |cols|-row unpivot ABOVE the aggregate
    // (one row in, |cols| out); the corpus side below the partial
    // aggregate must not stack (the marker must exist, or the check
    // below would pass over an empty plan suffix)
    assert(exact.contains("partial_column_stats"), s"no partial aggregate:\n$exact")
    val belowAgg = exact.linesIterator
      .dropWhile(!_.contains("partial_column_stats")).mkString("\n")
    assert(!belowAgg.contains("Generate"),
      s"corpus side must not stack:\n$exact")
  }

  test("sketch tiers stay within contract error bounds of exact") {
    // 5k rows, 997 distinct values — UNDER the default k=1024, so the
    // KMV tier is in its exact regime: every distinct hash is retained
    // and the estimate IS the distinct count (of 60-bit hashes; a
    // prefix collision at 997 values has probability ~2⁻⁴⁰)
    val df = withLogLevel(
      spark.range(0, 5000).selectExpr("cast(id % 997 as double) as a"))
    val ex = Profile.numericProfile(df, Seq("a")).collect().head
    val ap = Profile.numericProfile(df, Seq("a"), exact = false).collect().head
    assert(ap.getLong(3) === ex.getLong(3),
      s"KMV m<k regime must be exact: ${ap.getLong(3)} vs ${ex.getLong(3)}")
    // n / nulls / min / max are exact in both tiers
    assert(ap.getLong(1) === ex.getLong(1))
    assert(ap.getDouble(4) === ex.getDouble(4))
    assert(ap.getDouble(5) === ex.getDouble(5))

    val qex = Profile.quantileProfile(df, Seq("a")).collect()
      .map(x => x.getDouble(1) -> x.getDouble(2)).toMap
    val qap = Profile.quantileProfile(df, Seq("a"), exact = false).collect()
      .map(x => x.getDouble(1) -> x.getDouble(2)).toMap
    // corpus smaller than sampleRows ⇒ the md5 sample keeps every row
    // and the tier IS the exact tier — equality, not a tolerance (the
    // r14 redesign removed the GK summary whose ≤ 1/accuracy rank error
    // this bound used to cover)
    qex.foreach { case (q, v) =>
      assert(qap(q) === v, s"q=$q approx ${qap(q)} vs exact $v")
    }
  }

  test("KMV estimate regime: error within the 1/√k contract; layout-invariant") {
    // 50k distinct values ≫ k=256 ⇒ the (k−1)·2⁶⁰/h_k arm is live.
    // σ ≈ 1/√(k−2) ≈ 6.3%; pin 3σ = 19%. And the retained bottom-k set
    // is a pure function of the value set, so 1 vs 7 partitions must
    // agree BIT-equal (the HLL tier this replaced was deterministic too,
    // but not cross-engine replayable).
    val base = withLogLevel(
      spark.range(0L, 50000L).selectExpr("cast(id as double) as a"))
    def run(parts: Int): Long = Profile.numericProfile(
      base.repartition(parts), Seq("a"), exact = false, sketchK = 256)
      .collect().head.getLong(3)
    val est = run(1)
    assert(math.abs(est - 50000.0) / 50000.0 < 0.19,
      s"KMV estimate $est vs true 50000 outside 3σ")
    assert(run(7) === est, "KMV must be invariant to partition layout")
  }

  test("KMV hash convention matches an independent md5 (the oracle contract)") {
    // kmvHash60 = int(md5(decimal rendering)[0:15], 16) — recompute with
    // java's MessageDigest, no Spark functions, so the spec pins the
    // cross-engine convention itself (DuckDB's CAST('0x'||substr(md5(s),
    // 1,15) AS BIGINT) is the same arithmetic)
    val vals = Seq(0L, 1L, -5L, 2400L, 987654321L)
    val got = vals.toDF("v")
      .select(graft.functions.KmvDistinct.kmvHash60(col("v")))
      .collect().map(_.getLong(0))
    val want = vals.map { v =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(v.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    assert(got.toSeq === want)
  }

  test("quantile sketch tier samples above sampleRows; rank error within the sampling bound") {
    // 100k uniform values, sampleRows = 8192 ⇒ keep rate ≈ 0.08 and the
    // sampling term is the ONLY error term (exact interpolation over
    // the md5-sampled rows): ±z·√(q(1−q)/m) ≈ ±1.4% rank at the median
    // at 99% confidence. md5-hash membership ⇒ deterministic AND
    // layout-invariant; the 3% pin leaves headroom over the CI, not
    // over determinism.
    val df = withLogLevel(spark.range(0L, 100000L).toDF("v"))
    val got = Profile.quantileProfile(df, Seq("v"), exact = false,
        sampleRows = 8192L).collect()
      .map(x => x.getDouble(1) -> x.getDouble(2)).toMap
    for ((q, want) <- Seq(0.25 -> 25000.0, 0.5 -> 50000.0, 0.75 -> 75000.0)) {
      assert(math.abs(got(q) - want) / 100000.0 < 0.03,
        s"q=$q sampled ${got(q)} vs true $want")
    }
  }

  test("exact tier == frozen r15 stack/counts-table chain incl. NaN, ±0.0, nulls, empty (r16)") {
    // r16 replaced the stack + (ci, v, count) + second-aggregate shape
    // with one compound ColumnStats buffer per column; this pins the
    // output against a frozen copy of the r15 chain on adversarial
    // doubles. NaN/-0.0 matter: the old chain's groupBy NORMALIZED them
    // (-0.0 → +0.0, NaN → canonical) before distinct/min/max — the
    // kernel must reproduce exactly that.
    import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit, max, min, sum, when}
    def frozen(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) = {
      val stacked = cols.zipWithIndex
        .map { case (c, i) => s"$i, cast(`$c` AS double)" }.mkString(", ")
      val grouped = df
        .select(expr(s"stack(${cols.size}, $stacked) AS (__ci, v)"))
        .groupBy(col("__ci"), col("v")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("__ci")).agg(
          sum("cnt").as("n"),
          coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("n_null"),
          count(col("v")).as("n_distinct"),
          min("v").as("mn"), max("v").as("mx"))
      import df.sparkSession.implicits._
      cols.zipWithIndex.map { case (c, i) => (i, c) }.toDF("__ci", "column")
        .join(grouped, Seq("__ci"), "left")
        .select(col("column"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("n_null"), lit(0L)).as("n_null"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
          col("mn"), col("mx"))
    }
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) "null" else java.lang.Double.doubleToLongBits(r.getDouble(4)).toString,
        if (r.isNullAt(5)) "null" else java.lang.Double.doubleToLongBits(r.getDouble(5)).toString)
    }.sortBy(_._1).toSeq
    val rnd = new scala.util.Random(1601)
    val specials = Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.5, -1.5, null)
    (1 to 5).foreach { caseNo =>
      val rows = (1 to 400).map { _ =>
        def v(): java.lang.Double = rnd.nextInt(4) match {
          case 0 => specials(rnd.nextInt(specials.size)).asInstanceOf[Any] match {
            case null => null
            case d: Double => java.lang.Double.valueOf(d)
          }
          case _ => java.lang.Double.valueOf(rnd.nextInt(20) / 4.0)
        }
        (v(), v())
      }
      val df = withLogLevel(
        spark.createDataFrame(rows).toDF("a", "b").repartition(3))
      val got = canon(Profile.numericProfile(df, Seq("a", "b")).collect())
      val want = canon(frozen(df, Seq("a", "b")).collect())
      assert(got === want, s"case $caseNo")
    }
    // empty frame keeps one row per column, n=0, null min/max
    val empty = withLogLevel(spark.createDataFrame(
      Seq.empty[(java.lang.Double, java.lang.Double)]).toDF("a", "b"))
    assert(canon(Profile.numericProfile(empty, Seq("a", "b")).collect()) ===
      canon(frozen(empty, Seq("a", "b")).collect()))
  }

  test("quantile sample membership == frozen substring(md5)<rateHex chain (r16 kernel pin)") {
    // r16 replaced the hex-string membership chain with the
    // Md5Bucket16 int kernel; the DuckDB oracle still replays the
    // STRING form, so the surviving row SET must be bit-identical.
    // Multi-column key exercises the concat_ws('|') rendering path the
    // gate entry uses (l_orderkey, l_linenumber).
    import org.apache.spark.sql.functions.{col, concat_ws, lit, md5, substring}
    val df = withLogLevel(spark.range(0L, 20000L)
      .selectExpr("id AS k1", "id % 7 AS k2", "cast(id AS double) / 3 AS v"))
    for (rate <- Seq(0.001, 0.13, 0.5)) {
      val got = Profile.quantileSampleFrame(df, Seq("v"), Seq("k1", "k2"), rate)
      val frozen = df.filter(substring(md5(concat_ws("|",
          col("k1").cast("string"), col("k2").cast("string"))), 1, 4)
          < lit(graft.ops.Splits.rateHex(rate)))
        .select(col("v"))
      assert(got.collect().map(_.getDouble(0)).sorted.toSeq ===
        frozen.collect().map(_.getDouble(0)).sorted.toSeq, s"rate=$rate")
    }
  }

  test("quantile sketch tier is invariant to partition layout") {
    // the r13 census diverged at CPUS=1 precisely here (per-partition
    // RNG membership + GK merge order); the md5-bucket tier is a pure
    // function of the data multiset — pin 1 vs 7 partitions bit-equal
    val base = withLogLevel(spark.range(0L, 50000L).toDF("v"))
    def run(parts: Int) = Profile.quantileProfile(
        base.repartition(parts), Seq("v"), exact = false,
        sampleRows = 4096L).collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getDouble(2))).sortBy(_._2)
    assert(run(1).toSeq === run(7).toSeq)
  }

  test("single-pass plan: one scan, partial+final aggregate") {
    val df = Seq((1.0, 2.0), (3.0, 4.0)).toDF("a", "b")
    val p = Profile.numericProfile(df, Seq("a", "b"), exact = false)
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("Scan")) <= 1,
      s"profile must be one pass:\n$p")
  }

  test("quantileProfile computes exact interpolated quartiles per column") {
    val df = Seq((1.0, 10.0), (2.0, 20.0), (3.0, 30.0), (4.0, 40.0))
      .toDF("a", "b")
    val r = Profile.quantileProfile(df, Seq("a", "b")).collect()
      .map(x => (x.getString(0), x.getDouble(1)) -> x.getDouble(2)).toMap
    // ranks q·(n−1) over 1..4: q25 → 1.75, median → 2.5, q75 → 3.25
    assert(r(("a", 0.25)) === 1.75)
    assert(r(("a", 0.5)) === 2.5)
    assert(r(("a", 0.75)) === 3.25)
    assert(r(("b", 0.5)) === 25.0)
    // scale divides back out
    val s = Profile.quantileProfile(df, Seq("a"), Seq(0.5), scale = 100L)
      .collect().head.getDouble(2)
    assert(s === 2.5)
    intercept[IllegalArgumentException](
      Profile.quantileProfile(df, Seq("a"), Seq(1.5)))
  }

  test("exact quantile tier ≡ builtin percentile on randomized data") {
    // the histogram-selection path must agree bit-for-bit with Spark's
    // own exact percentile across sign, ties, tiny n, and extreme q
    val rnd = new scala.util.Random(1234)
    val qs = Seq(0.0, 0.1, 0.25, 0.5, 0.9, 1.0)
    for (trial <- 1 to 3) {
      val n = Seq(1, 7, 500)(trial - 1)
      val rows = (0 until n).map { _ =>
        (math.round(rnd.nextGaussian() * 5000) / 100.0, // negatives + ties
          rnd.nextInt(5) / 100.0)                        // heavy ties
      }
      val df = withLogLevel(rows.toDF("a", "b"))
      val got = Profile.quantileProfile(df, Seq("a", "b"), qs, scale = 100L)
        .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
        .toMap
      val want = Seq("a", "b").flatMap { c =>
        val arr = df.selectExpr(
          s"percentile(round(`$c` * 100), array(${qs.mkString(",")}))")
          .head().getSeq[Double](0)
        qs.zip(arr).map { case (q, v) => (c, q) -> v / 100.0 }
      }.toMap
      want.foreach { case (k, v) =>
        assert(java.lang.Double.doubleToRawLongBits(got(k)) ===
          java.lang.Double.doubleToRawLongBits(v),
          s"trial=$trial $k: got ${got(k)}, want $v")
      }
    }
  }

  test("all-null and empty columns still emit rows: quantiles null, stats n=0") {
    val df = Seq((1.0, Option.empty[Double]), (2.0, None), (3.0, None))
      .toDF("x", "y")
    // quantileProfile: the all-null column yields (column, q, null) per
    // requested q — drift checks joining on (column, q) must find the
    // key, not a hole (matches the old builtin-percentile semantics)
    val q = Profile.quantileProfile(df, Seq("x", "y"), Seq(0.5))
      .collect().map(r => r.getString(0) -> Option(r.get(2))).toMap
    assert(q("x") === Some(2.0))
    assert(q("y") === None)
    // numericProfile on an EMPTY frame: one row per requested column,
    // n=0, null min/max — same shape as the sketch tier's single-row agg
    val empty = df.filter(lit(false))
    val p = Profile.numericProfile(empty, Seq("x", "y")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3), Option(r.get(4))))
      .toMap
    assert(p === Map("x" -> ((0L, 0L, None)), "y" -> ((0L, 0L, None))))
    // approx tiers agree on the shape
    val qa = Profile.quantileProfile(df, Seq("y"), Seq(0.5), exact = false)
      .collect().map(r => Option(r.get(2)))
    assert(qa.toSeq === Seq(None))
    val pa = Profile.numericProfile(empty, Seq("x"), exact = false)
      .collect().map(r => (r.getLong(1), Option(r.get(4))))
    assert(pa.toSeq === Seq((0L, None)))
  }

  test("histogram bins exactly on scaled-integer floor division") {
    val df = Seq(0.0, 0.49, 0.5, 0.99, 1.0, 2.49, -0.01, -0.5)
      .toDF("x")
    val r = Profile.histogram(df, "x", 0.5).collect()
      .map(x => x.getLong(0) -> ((x.getDouble(1), x.getLong(2)))).toMap
    // width 0.5 → bin = floor(cents / 50)
    assert(r(0L) === ((0.0, 2L)))     // 0.0, 0.49
    assert(r(1L) === ((0.5, 2L)))     // 0.5, 0.99
    assert(r(2L) === ((1.0, 1L)))     // 1.0
    assert(r(4L) === ((2.0, 1L)))     // 2.49
    assert(r(-1L) === ((-0.5, 2L)),
      "negative values floor DOWN: -0.01 and -0.5 land in bin -1")
    intercept[IllegalArgumentException](Profile.histogram(df, "x", 0.0))
    intercept[IllegalArgumentException](
      Profile.histogram(df, "x", 0.001, scale = 100L)) // rounds to zero width
  }

  test("topValues ranks by count desc with value-asc tie-break") {
    val df = Seq("b", "b", "a", "a", "c", "d").map(Tuple1(_)).toDF("x")
    val r = Profile.topValues(df, Seq("x"), 3).collect()
      .map(x => (x.getString(1), x.getLong(2), x.getLong(3)))
    assert(r.sortBy(_._3) === Seq(("a", 2L, 1L), ("b", 2L, 2L), ("c", 1L, 3L)),
      "tie a/b breaks to 'a' first; d is cut at k=3: " + r.toSeq)
  }

  test("topValues unpivots multiple columns in one scan, skips nulls") {
    val df = Seq((Some("en"), 1), (Some("en"), 2), (None, 2)).toDF("lang", "v")
    val r = Profile.topValues(df, Seq("lang", "v"), 2).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2))).toSet
    assert(r === Set(("lang", "en", 2L), ("v", "2", 2L), ("v", "1", 1L)))
    val p = Profile.topValues(df, Seq("lang", "v"), 2)
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("Scan")) <= 1,
      s"one unpivoted pass:\n$p")
  }

  test("corrExact: exact moments, closed-form corr hits ±1 on linear data") {
    val df = Seq((1.0, 2.0, -1.0), (2.0, 4.0, -2.0), (3.0, 6.0, -3.0))
      .toDF("x", "y", "z")
    val r = Profile.corrExact(df, Seq(("x", "y"), ("x", "z"))).collect()
      .map(row => (row.getString(0), row.getString(1)) -> row).toMap
    val xy = r(("x", "y"))
    assert(xy.getAs[java.math.BigDecimal]("sx").longValueExact === 600L)
    assert(xy.getAs[java.math.BigDecimal]("sxy").longValueExact === 280000L)
    // corr is tolerance-checked only — it is a double-derived scalar and
    // deliberately excluded from the hashed oracle gate (the six exact
    // integer moments are the gate; see SparkEntry profile_corr).
    assert(math.abs(xy.getAs[Double]("corr") - 1.0) < 1e-12)
    assert(math.abs(r(("x", "z")).getAs[Double]("corr") + 1.0) < 1e-12)
    // order-independence: moments identical under re-partitioning
    val again = Profile.corrExact(df.repartition(7), Seq(("x", "y")))
      .collect().head
    assert(again.getAs[java.math.BigDecimal]("sxy").longValueExact === 280000L)
    intercept[IllegalArgumentException](Profile.corrExact(df, Nil))
  }

  test("corrExact: closed-form corr within 1e-6 of builtin corr on lineitem") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val got = Profile.corrExact(li,
        Seq(("l_quantity", "l_extendedprice"), ("l_extendedprice", "l_discount")))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("corr"))
      .toMap
    val want = li.agg(
        corr(col("l_quantity"), col("l_extendedprice")),
        corr(col("l_extendedprice"), col("l_discount")))
      .collect().head
    // scale=100 quantization of already-2dp money/quantity columns is exact,
    // so the only divergence from builtin corr is float summation order —
    // well inside 1e-6 at sf0.001.
    assert(math.abs(got(("l_quantity", "l_extendedprice")) - want.getDouble(0)) < 1e-6)
    assert(math.abs(got(("l_extendedprice", "l_discount")) - want.getDouble(1)) < 1e-6)
  }

  test("zscores: exact standardized values, null on zero variance") {
    val df = Seq(
      (1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0),
      (4L, "b", 7.0),                       // singleton -> null
      (5L, "c", 4.0), (6L, "c", 4.0)        // constant -> null
    ).toDF("id", "g", "v")
    val r = Profile.zscores(df, "v", "g", "id").collect()
      .map(x => x.getLong(0) ->
        (if (x.isNullAt(2)) Double.NaN else x.getDouble(2))).toMap
    assert(math.abs(r(1L) + math.sqrt(1.5)) < 1e-12, r.toString)
    assert(r(2L) === 0.0)
    assert(math.abs(r(3L) - math.sqrt(1.5)) < 1e-12)
    assert(r(4L).isNaN && r(5L).isNaN && r(6L).isNaN,
      "degenerate groups must yield null, not infinity")
    // order-independence under re-partitioning
    val again = Profile.zscores(df.repartition(7), "v", "g", "id").collect()
      .map(x => x.getLong(0) ->
        (if (x.isNullAt(2)) Double.NaN else x.getDouble(2))).toMap
    assert(again(1L) === r(1L) && again(3L) === r(3L))
  }

  test("quantileProfile approx mode ≡ exact tier over the md5-sampled rows") {
    // definition replay: the sketch tier IS "exact quantiles over the
    // md5-bucket survivors" — recompute the membership rule here
    // (substring(md5(key),1,4) < rateHex(sampleRows/n), the
    // Splits.downsample convention) and pin bit-equality. This is the
    // same replay the DuckDB oracle performs for
    // profile_quantiles_approx.
    val df = withLogLevel(spark.range(0L, 20000L).toDF("v"))
    val approx = Profile.quantileProfile(df, Seq("v"), exact = false,
        sampleRows = 2048L).collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getDouble(2))).sortBy(_._2)
    val manual = df.filter(
      substring(md5(col("v").cast("string")), 1, 4) <
        lit(graft.ops.Splits.rateHex(2048.0 / 20000L)))
    val expected = Profile.quantileProfile(manual, Seq("v")).collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getDouble(2))).sortBy(_._2)
    assert(approx.toSeq === expected.toSeq)
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  test("retention buckets users by first-active day and offset") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 23:00:00")),  // same day, dedup'd
      (1L, ts("2024-01-03 09:00:00")),  // day offset 2
      (2L, ts("2024-01-01 12:00:00")),
      (2L, ts("2024-01-02 12:00:00")),  // offset 1
      (3L, ts("2024-01-02 00:00:00"))   // a different cohort
    ).toDF("user_id", "t")
    val r = Cohorts.retention(ev, "user_id", "t").collect()
      .map(x => (x.getDate(0).toString, x.getLong(1), x.getLong(2))).toSet
    assert(r === Set(
      ("2024-01-01", 0L, 2L),   // users 1,2 on their first day
      ("2024-01-01", 1L, 1L),   // user 2 returns next day
      ("2024-01-01", 2L, 1L),   // user 1 returns on day 3
      ("2024-01-02", 0L, 1L)))  // user 3's cohort
  }

  test("retention ignores null users instead of minting a phantom cohort member (r12)") {
    val ev = Seq(
      (Some(1L), ts("2024-01-01 10:00:00")),
      (None: Option[Long], ts("2024-01-01 10:00:00")),
      (None: Option[Long], ts("2024-01-05 10:00:00"))
    ).toDF("user_id", "t")
    val r = Cohorts.retention(ev, "user_id", "t").collect()
      .map(x => (x.getDate(0).toString, x.getLong(1), x.getLong(2))).toSet
    // only the real user appears; the two anonymous events do NOT merge
    // into one "user" retained at offset 4
    assert(r === Set(("2024-01-01", 0L, 1L)), s"got $r")
  }

  test("weekly retention truncates to weeks") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")),  // Monday, week of Jan 1
      (1L, ts("2024-01-04 10:00:00")),  // same week
      (1L, ts("2024-01-09 10:00:00"))   // next week -> offset 1
    ).toDF("user_id", "t")
    val r = Cohorts.retention(ev, "user_id", "t", period = "week").collect()
      .map(x => (x.getLong(1), x.getLong(2))).toSet
    assert(r === Set((0L, 1L), (1L, 1L)))
  }

  test("retention plan shuffles once on the user key") {
    val ev = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("user_id", "t")
    val p = Cohorts.retention(ev, "user_id", "t")
      .queryExecution.executedPlan.toString
    // ONE user-keyed exchange (collect_set dedups periods map-side and
    // array_min reads the first period off the set) plus the final
    // small (cohort, offset) rollup exchange — the old distinct+window
    // shape shuffled a third time because hashpartitioning(u, p) does
    // not satisfy the window's clustering on u alone
    val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(n <= 2, s"too many exchanges ($n):\n$p")
  }

  test("orderStatistics returns exact sorted values at requested ranks") {
    val vals = Seq(5.0, 1.0, 9.0, 3.0, 7.0, 3.0, 1.0, 8.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "x")
    val got = graft.ops.Profile.orderStatistics(df, "x", Seq(0L, 3L, 7L))
    val sorted = vals.map(v => math.round(v * 100)).sorted
    assert(got === Map(0L -> sorted(0), 3L -> sorted(3), 7L -> sorted(7)))
  }

  test("equiDepthHistogram: equal-count bins, exact edges, total preserved") {
    val rnd = new scala.util.Random(61)
    // heavy-tailed: most mass tiny, a few huge — fixed-width would
    // collapse; equi-depth must keep counts balanced
    val vals = (0 until 500).map(_ => math.pow(10, rnd.nextDouble() * 4) / 100)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "x")
    val rows = graft.ops.Profile.equiDepthHistogram(df, "x", buckets = 10)
      .orderBy($"bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === 10)
    assert(rows.map(_._4).sum === 500, "every row in exactly one bucket")
    // brute-force edges
    val s = vals.map(v => math.round(v * 100)).sorted
    rows.foreach { case (b, lo, hi, n) =>
      assert(lo === s((b * 499 / 10).toInt), s"bucket $b lo")
      assert(hi === s(((b + 1) * 499 / 10).toInt), s"bucket $b hi")
      val want = s.count(v =>
        (if (b == 0) v >= lo else v > lo) && v <= hi).toLong
      assert(n === want, s"bucket $b count")
    }
    // balance: no bucket more than ~2x the ideal 50 (ties can skew)
    assert(rows.map(_._4).max <= 100)
  }

  test("equiDepthHistogram survives duplicated edges (constant runs)") {
    val df = (Seq.fill(90)(5.0) ++ Seq(1.0, 9.0)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "x")
    val rows = graft.ops.Profile.equiDepthHistogram(df, "x", buckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(rows.map(_._2).sum === 92, "duplicated edges must not drop rows")
  }

  test("madOutliers flags |x − med| > k·MAD exactly, brute-force check") {
    // values in units of 0.01: median 5.0, MAD 1.0 ⇒ outliers at |d| > 3
    val vals = Seq(2.0, 4.0, 4.5, 5.0, 5.5, 6.0, 50.0, 5.0, 4.0, 6.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("event_id", "value")
    val got = graft.ops.Profile.madOutliers(df, "value", "event_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // brute force with exact rational medians (doubled units)
    val s = vals.map(v => math.round(v * 100))
    def med2(xs: Seq[Long]): Long = {
      val sorted = xs.sorted
      val n = sorted.length
      if (n % 2 == 1) 2 * sorted(n / 2)
      else sorted(n / 2 - 1) + sorted(n / 2)
    }
    val m2v = med2(s)
    val d = s.map(x => math.abs(2 * x - m2v))
    val mad2 = med2(d)
    vals.indices.foreach { i =>
      val (scaled, flag) = got(i.toLong)
      assert(scaled === s(i))
      assert(flag === (2 * d(i) > 3 * mad2), s"row $i d=${d(i)} mad2=$mad2")
    }
    // 2.0 sits EXACTLY on the boundary (2d = 1200 = 3·mad2) — strict >
    // keeps it in, demonstrating why the comparison must be exact
    assert(got.values.count(_._2) === 1, "only 50.0 exceeds 3·MAD strictly")
  }

  test("madOutliers: zero MAD flags any deviation; constant column flags none") {
    val const = (0 until 8).map(i => (i.toLong, 5.0)).toDF("event_id", "value")
    val gotConst = graft.ops.Profile.madOutliers(const, "value", "event_id")
      .collect().map(_.getBoolean(2))
    assert(gotConst.forall(_ == false))
    // 7 identical + 1 different: MAD = 0, the single deviator is flagged
    val spike = ((0 until 7).map(i => (i.toLong, 5.0)) :+ (7L, 9.0))
      .toDF("event_id", "value")
    val gotSpike = graft.ops.Profile.madOutliers(spike, "value", "event_id")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(gotSpike(7L) === true)
    assert((0 until 7).forall(i => !gotSpike(i.toLong)))
  }

  test("heavyHitters: exact regime equals topValues counts, any partitioning") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val expected = ev.filter($"user_id".isNotNull)
      .groupBy($"user_id".cast("string").as("value"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .orderBy($"n".desc, $"value").limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Profile.heavyHitters(d, "user_id", capacity = 4096, topN = 10)
        .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(run(ev) === expected)
    assert(run(ev.repartition(13)) === expected)
  }

  test("heavyHitters: sketch regime keeps every true heavy hitter within the MG bound") {
    // 1000 rows, 302 distinct, capacity 16 ⇒ error bound n/(c+1) ≈ 58.8
    val rows = Seq.fill(500)("hot") ++ Seq.fill(200)("warm") ++
      (0 until 300).map(i => s"u$i")
    val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "value").repartition(7)
    val cap = 16
    val bound = rows.size / (cap + 1.0)
    val got = graft.ops.Profile.heavyHitters(df, "value", cap, topN = cap)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    // true heavy hitters (freq > bound) must be present, estimates in
    // [true - bound, true]
    for ((v, t) <- Seq("hot" -> 500L, "warm" -> 200L)) {
      assert(got.contains(v), s"$v lost by the sketch")
      assert(got(v) <= t && got(v) >= t - bound.ceil.toLong,
        s"$v estimate ${got(v)} outside [${t - bound.ceil.toLong}, $t]")
    }
    // no estimate may EXCEED its true count (MG only undercounts)
    got.foreach { case (v, c) =>
      val t = rows.count(_ == v).toLong
      assert(c <= t, s"$v overcounted: $c > $t")
    }
  }
}

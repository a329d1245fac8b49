package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/**
 * pipeline: passes over six census entries of the operator library
 * (SparkEntry.queries) on generated census-shaped tables (PipelineData).
 * It never touches core.Collection or VectorIndex: all Spark shuffle,
 * aggregation and codegen.
 *
 * The tables are generated and written as parquet first, untimed. The
 * set-up is then SetupReps checked passes: every entry's result is
 * counted and hashed on the executors and compared with the row count
 * and order-insensitive hash recorded in pipeline_oracle.json (the data
 * set is the same for every seed, generated from DataSeed). The first
 * checked pass is the cold one (planning, codegen, first jobs). The
 * timed operation is one entry written to a `noop` sink; the seed
 * orders the entries within a pass.
 */
object PipelineWorkload extends Serializable {
  val DataSeed = 42L
  val SetupReps = 3
  val OracleFile = "pipeline_oracle.json"
  // one timed pass per PassSeconds of --seconds
  val PassSeconds = 3.5

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val report = ctx.report
    val dir = s"${ctx.args.scratch}/pipeline"
    PipelineData.write(spark, ctx.args.cores, PipelineData.Scale, dir)
    ctx.phase("input tables")

    val recorded = graft.persist.Json.parse(new String(
      Files.readAllBytes(Paths.get(ctx.args.benchDir, OracleFile)), "UTF-8"))
      .asInstanceOf[Map[String, Any]]
    def checkedPass(): Unit = Metrics.PipelineEntries.foreach { e =>
      report.guard(s"pipeline entry $e") {
        val (n, h) = RowHash.countAndHash(SparkEntry.queries(e)(spark, dir))
        val want = recorded.get(e).map(_.asInstanceOf[Map[String, Any]])
        val ok = want.exists(m => m("rows") == n.toDouble && m("hash") == h)
        if (!ok) report.note(s"$e: got $n rows hash $h, recorded ${want.getOrElse("nothing")}")
        ok
      }
    }
    ctx.tracer match {
      case None => Setup.repeat(ctx, SetupReps)(_ => checkedPass())((_, _) => ())
      case Some(_) => checkedPass()
    }
    Setup.reportHeap(ctx)
    ctx.phase("set-up")

    val order = {
      val r = Gen.rng(ctx.args.seed, Gen.QueryStream, 0L)
      val a = Metrics.PipelineEntries.toArray
      for (i <- a.length - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.toSeq
    }
    val counts = mutable.LinkedHashMap.empty[String, Counters]
    val timer = new OpTimer
    // A fixed number of whole passes (one per PassSeconds of --seconds),
    // so every run times the same work: a pass more or less would shift
    // the per-entry statistics in steps.
    val passes = math.max(1, (ctx.args.seconds / PassSeconds).toInt)
    (0 until passes * order.length).foreach { i =>
      val e = order(i % order.length)
      def go(): Unit = SparkEntry.queries(e)(spark, dir).write.format("noop").mode("overwrite").save()
      report.guard(s"pipeline entry $e") {
        ctx.tracer match {
          case Some(t) =>
            val (_, _, c) = timer(e)(t.request("request")(t.measured(s"pipeline.$e")(go())))._1
            if (!counts.contains(e)) counts(e) = c
          case None => timer(e)(go())
        }
        true
      }
    }
    ctx.phase("timed passes")
    timer.report(report)
    val medians = Metrics.PipelineEntries.map(e => e -> timer.medianMs(e) / 1e3)
    report.set("pipeline.pass_s", medians.map(_._2).sum)
    medians.foreach { case (e, s) => report.set(s"pipeline.${e}_s", s) }
    counts.foreach { case (e, c) =>
      report.set(s"pipeline.$e.jobs", c.jobs)
      report.set(s"pipeline.$e.tasks", c.tasks)
      report.set(s"pipeline.$e.input_bytes", c.inputBytes)
      report.set(s"pipeline.$e.shuffle_bytes", c.shuffleBytes)
      report.set(s"pipeline.$e.spill_bytes", c.spillBytes)
      report.set(s"pipeline.$e.compiles", c.compiles)
    }
  }
}

/** Row count and order-insensitive hash of a result, computed by one
  * aggregation: the sum, modulo 2^64, of each row's xxhash64, with
  * doubles as text to 9 significant digits, so partition-dependent
  * summation order cannot change the hash. */
object RowHash {
  def countAndHash(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      f.dataType match {
        case DoubleType | FloatType =>
          when(c === 0, lit("0")).otherwise(format_string("%.9g", c.cast(DoubleType)))
        case _ => c
      }
    }
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast(DecimalType(38, 0)))).head()
    val h = Option(r.getDecimal(1)).map(_.toBigInteger.longValue).getOrElse(0L)
    (r.getLong(0), f"$h%016x")
  }
}

/**
 * The pipeline's input: the census tables the six entries read
 * (documents, events, lineitem), in the census column layout and with
 * its value distributions, generated at scale factor `sf` (the census
 * unit: sf 0.1 is 5,000 documents, 100,000 events, 600,000 lineitems).
 * The distributions were read off the census tables at sf 0.001, 0.01
 * and 0.1; `perfbench/calibrate.py` compares each entry's output on
 * generated and census tables (README, "Pipeline data").
 *
 *  - documents: max(500, 50,000 sf) rows. Text is 10-99 words drawn
 *    uniformly from 30; 5% of the documents (an exact count, chosen from
 *    DataSeed) repeat another document's text followed by " dup".
 *    lang en 40%, de/es/fr/zh 15% each; source src<doc_id % 20>.
 *  - events: 1,000,000 sf rows, timestamps ascending over 30 days from
 *    2024-01-01, user_id below 15,000 sf, five event types, value
 *    exponential with mean 50 (two decimals), props {"k": 0..99}.
 *  - lineitem: 6,000,000 sf rows, independent uniform columns: keys below
 *    1,500,000 sf / 200,000 sf / 10,000 sf, quantity 1-50, price
 *    900-105,000, discount 0-0.10, tax 0-0.08, flags A/N/R and F/O,
 *    ship date 1995-01-02 plus 0-2,497 days.
 */
object PipelineData extends Serializable {
  /** The scale the benchmark runs at (see README for why not 0.1). */
  val Scale = 0.03

  val Words: Array[String] = ("spark window merge table column vector stream value data small join " +
    "filter big group hash customer sort order slow line part fast row the agg key query a scan batch")
    .split(" ")
  private val Langs = Array("de", "es", "fr", "zh")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Day = 86400000L
  private def epochMs(y: Int, m: Int, d: Int) = java.time.LocalDate.of(y, m, d).toEpochDay * Day

  def docs(sf: Double): Long = math.max(500L, math.round(50000 * sf))

  private def r(stream: Long, i: Long) = Gen.rng(PipelineWorkload.DataSeed, 100 + stream, i)

  private def baseText(i: Long): String = {
    val g = r(0, i)
    Array.fill(10 + g.nextInt(90))(Words(g.nextInt(Words.length))).mkString(" ")
  }

  /** The documents that repeat another one's text: n / 20 of them. */
  def dupIds(n: Long): Set[Long] = {
    val g = r(1, -1L)
    val a = Array.tabulate(n.toInt)(_.toLong)
    for (i <- 0 until (n / 20).toInt) {
      val j = i + g.nextInt(a.length - i); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take((n / 20).toInt).toSet
  }

  /** Generates the tables on `parts` partitions and writes each as one
    * parquet file of one row group, <dir>/<table>.parquet, as the census
    * tables are laid out (so an entry reads a table with one task). */
  def write(spark: SparkSession, parts: Int, sf: Double, dir: String): Unit =
    tables(spark, parts, sf).foreach { case (name, df) =>
      df.count()
      df.coalesce(1).write.parquet(s"$dir/$name.parquet")
      df.unpersist(blocking = true)
    }

  def tables(spark: SparkSession, parts: Int, sf: Double): Map[String, DataFrame] = {
    def table(n: Long, schema: StructType)(row: Long => Row): DataFrame = {
      val rdd = spark.sparkContext.range(0L, n, 1L, parts).map(row)
      spark.createDataFrame(rdd, schema).persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    }
    def st(fields: (String, DataType)*) = StructType(fields.map { case (n, t) => StructField(n, t) })
    val nDocs = docs(sf)
    val dups = dupIds(nDocs)
    val nEvents = math.round(1000000 * sf)
    val eventGapMs = 30 * Day / nEvents.toDouble
    val users = math.max(1L, math.round(15000 * sf))
    val (orders, partKeys, suppliers) =
      (math.round(1500000 * sf), math.max(1L, math.round(200000 * sf)), math.max(1L, math.round(10000 * sf)))
    val t2024 = epochMs(2024, 1, 1)
    val ship0 = epochMs(1995, 1, 2)
    Map(
      "documents" -> table(nDocs, st("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType)) { i =>
        val g = r(2, i)
        val t =
          if (dups.contains(i)) { var j = g.nextLong(nDocs - 1); if (j >= i) j += 1; baseText(j) + " dup" }
          else baseText(i)
        val lang = if (g.nextInt(20) < 8) "en" else Langs(g.nextInt(Langs.length))
        Row(i, t, lang, s"src${i % 20}", t.length.toLong)
      },
      "events" -> table(nEvents, st("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
        "props" -> StringType)) { i =>
        val g = r(4, i)
        val micros = ((i + g.nextDouble()) * eventGapMs * 1000).toLong
        val ts = new Timestamp(t2024 + micros / 1000)
        ts.setNanos((micros % 1000000).toInt * 1000)
        Row(i, ts, g.nextLong(users), EventTypes(g.nextInt(EventTypes.length)),
          math.round(-50 * math.log(1 - g.nextDouble()) * 100) / 100.0, s"""{"k": ${g.nextInt(100)}}""")
      },
      "lineitem" -> table(math.round(6000000 * sf), st("l_orderkey" -> LongType,
        "l_partkey" -> LongType, "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
        "l_tax" -> DoubleType, "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampType)) { i =>
        val g = r(5, i)
        Row(g.nextLong(orders), g.nextLong(partKeys), g.nextLong(suppliers), 1 + g.nextInt(7),
          (1 + g.nextInt(50)).toDouble, (90000 + g.nextLong(10410000)) / 100.0,
          g.nextInt(11) / 100.0, g.nextInt(9) / 100.0, Seq("A", "N", "R")(g.nextInt(3)),
          Seq("F", "O")(g.nextInt(2)), new Timestamp(ship0 + g.nextInt(2498) * Day))
      })
  }
}

package perfbench

import graft.SparkEntry

/**
 * Compares the pipeline's generated tables with census tables of the same
 * scale factor: for each table its row count, for each pipeline entry its
 * output row count and warm run time, on both. Run it through
 * perfbench/calibrate.py.
 *
 *   perfbench.Calibrate <census dir> <scale factor> <cores> <scratch dir>
 */
object Calibrate {
  def main(argv: Array[String]): Unit = {
    val Array(census, sf, cores, scratch) = argv
    val spark = Main.session(cores.toInt, scratch)
    val generated = s"$scratch/generated"
    PipelineData.write(spark, cores.toInt, sf.toDouble, generated)
    def rows(dir: String, table: String) = spark.read.parquet(s"$dir/$table.parquet").count()
    println(f"${"table / entry"}%-22s ${"census rows"}%12s ${"generated"}%12s ${"census s"}%9s ${"generated s"}%11s")
    Seq("documents", "events", "lineitem").foreach { t =>
      println(f"$t%-22s ${rows(census, t)}%12d ${rows(generated, t)}%12d")
    }
    def entry(e: String, dir: String): (Long, Double) = {
      val df = () => SparkEntry.queries(e)(spark, dir)
      df().write.format("noop").mode("overwrite").save()
      val (_, ns) = Stats.timeNs(df().write.format("noop").mode("overwrite").save())
      (df().count(), Stats.s(ns))
    }
    Metrics.PipelineEntries.foreach { e =>
      val (cn, cs) = entry(e, census)
      val (gn, gs) = entry(e, generated)
      println(f"$e%-22s $cn%12d $gn%12d $cs%9.2f $gs%11.2f")
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (and, via getOrCreate, per JVM). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def withLogLevel[A](f: => A): A = { spark.sparkContext.setLogLevel("ERROR"); f }

  /** The number of Spark jobs `body` starts on this thread. */
  def sparkJobs(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "spark-job-count"
    val sentinel = "spark-job-count-sentinel"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = js.properties
        if (p != null && p.getProperty("spark.jobGroup.id") == group) {
          if (p.getProperty("spark.job.description") == sentinel) sentinelSeen.countDown()
          else jobs.incrementAndGet()
        }
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "calls under test")
    try {
      body
      // one bus delivers job starts in order: once the sentinel's start
      // is seen, every job the body started has been counted
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelSeen.await(30, java.util.concurrent.TimeUnit.SECONDS), "sentinel job not seen")
      jobs.get()
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  lazy val testEmbeddings: Map[String, Array[Float]] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/test_embeddings.json"), "UTF-8").mkString
    graft.persist.Json.parse(src).asInstanceOf[Map[String, Any]].map {
      case (k, v) => k -> v.asInstanceOf[List[Any]]
        .map(x => x.asInstanceOf[Double].toFloat).toArray
    }
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.core.{Collection, DB, Document, Filters, QueryResult}
import graft.embed.HashingEmbeddingFunc
import graft.ops.VectorIndex

/**
 * query_local: an in-memory collection of 25,000 unit vectors (d = 1536)
 * with 1875-character content and metadata {i, bucket = i % 10},
 * indexed by buildIndex() during set-up. The timed operation is one
 * queryEmbedding(k = 10) from a 3:1 mix: unfiltered queries take the
 * packed index scan plus the join-back of the winning rows; filtered
 * ones (`where` bucket equality, 10%, and a `whereDocument` $contains)
 * bypass the index and run the DataFrame path.
 */
object QueryWorkload extends Serializable {
  val N = 25000
  val Dim = 1536
  val Chars = 1875
  val K = 10
  val SetupReps = 3
  val WarmupSeconds = 2.0

  final case class Query(vec: Array[Float], where: Map[String, String], whereDocument: Map[String, String])

  def kind(q: Query): String = if (q.where.isEmpty) "query" else "filtered query"

  /** Query i of the 3:1 mix: every fourth one is filtered. */
  def mixed(seed: Long, i: Int): Query = query(seed, i, filtered = Math.floorMod(i, 4) == 3)

  def query(seed: Long, i: Int, filtered: Boolean, dim: Int = Dim): Query = {
    val vec = Gen.queryVector(seed, i, dim)
    if (!filtered) Query(vec, Map.empty, Map.empty)
    else {
      val r = Gen.rng(seed, Gen.QueryStream, -1L - i)
      Query(vec, Map("bucket" -> r.nextInt(10).toString),
        Map("$contains" -> Gen.Vocab(r.nextInt(Gen.Vocab.length))))
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val seed = ctx.args.seed
    val report = ctx.report
    val input = Gen.corpusDF(spark, 0, N, ctx.args.cores * 2)(i =>
      Gen.doc(seed, Gen.docId("d", i), i, Dim, Chars))
    ctx.phase("input")
    val db = DB.inMemory(spark, new HashingEmbeddingFunc(Dim))

    val c = ctx.tracer match {
      case None => Setup.repeat(ctx, SetupReps) { r =>
          val c = db.createCollection(s"bench$r")
          c.addDF(input)
          c.buildIndex()
          c
        } { (r, _) => db.deleteCollection(s"bench$r") }
      case Some(_) =>
        val c = db.createCollection("bench")
        val (_, addNs) = Stats.timeNs(c.addDF(input))
        val (_, idxNs) = Stats.timeNs(c.buildIndex())
        report.set("core.add_df_s", Stats.s(addNs))
        report.set("core.build_index_s", Stats.s(idxNs))
        c
    }
    input.unpersist(blocking = true)
    Setup.reportHeap(ctx)
    ctx.phase("set-up")

    val docs: Array[Document] = Par.tabulate(N)(i => Gen.doc(seed, Gen.docId("d", i), i, Dim, Chars))
    val byId = docs.iterator.map(d => d.id -> d).toMap
    def verify(q: Query, res: Seq[QueryResult]): Option[String] =
      Oracle.check(res.map(r => r.id -> r.similarity),
        Oracle.ranked(docs, q.vec, q.where, q.whereDocument, K), K).orElse(
        res.find { r =>
          val d = byId(r.id)
          d.content != r.content || d.metadata != r.metadata
        }.map(r => s"id ${r.id} came back with other content or metadata"))
    def call(q: Query): Seq[QueryResult] = c.queryEmbedding(q.vec, K, q.where, q.whereDocument)

    ctx.phase("oracle data")
    // warm-up: JIT, codegen and the first-job costs, checked but untimed
    ctx.loop(WarmupSeconds, unit = 4) { i =>
      val q = mixed(seed, -1 - i)
      report.guard(s"warm-up query $i")(verify(q, call(q)).isEmpty)
    }

    ctx.phase("warm-up")
    ctx.tracer match {
      case None =>
        val timer = new OpTimer
        timedLoop(ctx, c, verify, timer)
        timer.report(report)
      case Some(tracer) => traced(ctx, tracer, c, verify)
    }
  }

  /** Closed loop of queries 0, 1, ... for `seconds`, timed by `timer`;
    * each result is checked after the loop, in parallel. */
  private def timedLoop(ctx: Ctx, c: Collection,
      verify: (Query, Seq[QueryResult]) => Option[String], timer: OpTimer): Unit = {
    val out = mutable.ArrayBuffer.empty[(Query, Either[Throwable, Seq[QueryResult]])]
    ctx.loop(ctx.args.seconds) { j =>
      val q = mixed(ctx.args.seed, j)
      val res = try Right(timer(kind(q))(c.queryEmbedding(q.vec, K, q.where, q.whereDocument))._1)
      catch { case e: Exception => Left(e) }
      out += q -> res
    }
    ctx.phase("timed queries")
    checkAll(ctx.report, out.toSeq, verify)
    ctx.phase("result checks")
  }

  private def checkAll(report: Report, out: Seq[(Query, Either[Throwable, Seq[QueryResult]])],
      verify: (Query, Seq[QueryResult]) => Option[String]): Unit =
    Par.map(out) {
      case (q, Right(res)) => verify(q, res)
      case (_, Left(e)) => Some(s"query threw ${e.getClass.getName}: ${e.getMessage}")
    }.foreach(err => report.attempt(err.isEmpty, err.getOrElse("")))

  /** Traced run. Requests alternate: an even one is a plain public call
    * (the untraced baseline), an odd one is the same call inside spans
    * with counter snapshots, followed by each layer's own public entry
    * point re-run on the same query:
    *  - unfiltered: VectorIndex.topK on an index the benchmark builds
    *    over Collection.df, then the join-back (`id` isInCollection top-k,
    *    collected as Documents); other = call - topk - join-back;
    *  - filtered: the filter scan (ids passing Filters.predicate), run
    *    twice so the second is free of codegen, then queryDF(...).collect();
    *    score_topk = queryDF - scan, other = call - queryDF.
    * The distributed tier of the same index (materialize(forceDistributed
    * = true)) is timed beside the local topK. */
  private def traced(ctx: Ctx, tracer: Tracer, c: Collection,
      verify: (Query, Seq[QueryResult]) => Option[String]): Unit = {
    val report = ctx.report
    val spark = ctx.spark
    import spark.implicits._
    val vectors = c.df.filter(col("embedding").isNotNull)
    val (idx, buildNs) = Stats.timeNs(
      VectorIndex.build[String](vectors, "id", "embedding", Dim).persist().materialize())
    report.set("ops.vector_index.build_s", Stats.s(buildNs))
    val distributed =
      VectorIndex.build[String](vectors, "id", "embedding", Dim).persist().materialize(forceDistributed = true)

    val plain, e2e, fe2e, topk, dist, mat, other, scan, scored, fother = mutable.ArrayBuffer.empty[Double]
    val counts = mutable.ArrayBuffer.empty[Counters]
    val out = mutable.ArrayBuffer.empty[(Query, Either[Throwable, Seq[QueryResult]])]
    val timer = new OpTimer
    def call(q: Query) =
      try Right(c.queryEmbedding(q.vec, K, q.where, q.whereDocument))
      catch { case e: Exception => Left(e) }
    ctx.loop(ctx.args.seconds, unit = 8) { j =>
      // pairs (2m, 2m + 1) share query m, so both halves see the 3:1 mix
      val q = mixed(ctx.args.seed, 1000000 + j / 2)
      val filtered = q.where.nonEmpty
      if (j % 2 == 0) {
        val (res, ns) = timer(kind(q))(call(q))
        out += q -> res
        if (!filtered) plain += Stats.ms(ns)
      } else tracer.request("request") {
        val (res, ns, cnt) = tracer.measured("core.collection.query_embedding")(call(q))
        out += q -> res
        if (!filtered) {
          e2e += Stats.ms(ns); counts += cnt
          val (top, tNs) = Stats.timeNs(tracer.span("ops.vector_index.topk")(idx.topK(q.vec, K)))
          val ids = top.map(_._1).toSeq
          val (_, mNs) = Stats.timeNs(tracer.span("core.collection.materialize")(
            c.df.filter(col("id").isInCollection(ids)).as[Document].collect()))
          val (_, dNs) = Stats.timeNs(tracer.span("ops.vector_index.distributed_topk")(
            distributed.topK(q.vec, K)))
          topk += Stats.ms(tNs); mat += Stats.ms(mNs); dist += Stats.ms(dNs)
          other += Stats.ms(ns - tNs - mNs)
        } else {
          fe2e += Stats.ms(ns)
          def scanOnce() = tracer.span("core.filters.scan")(
            c.df.filter(col("embedding").isNotNull)
              .filter(Filters.predicate(q.where, q.whereDocument)).select("id").collect())
          scanOnce()
          val (_, sNs) = Stats.timeNs(scanOnce())
          val (_, qNs) = Stats.timeNs(tracer.span("core.collection.query_df")(
            c.queryDF(q.vec, K, q.where, q.whereDocument).collect()))
          scan += Stats.ms(sNs); scored += Stats.ms(qNs - sNs)
          fother += Stats.ms(ns - qNs)
        }
      }
    }
    checkAll(report, out.toSeq, verify)
    idx.unpersist(); distributed.unpersist()
    timer.report(report)

    val p50 = Stats.median(e2e.toSeq)
    val plainP50 = Stats.median(plain.toSeq)
    val layers = Seq(topk, mat, other).map(l => Stats.median(l.toSeq))
    val ratio = layers.sum / p50
    report.set("trace.query_p50_ms", p50)
    report.set("trace.filtered_query_p50_ms", Stats.median(fe2e.toSeq))
    report.set("trace.untraced_query_p50_ms", plainP50)
    report.set("trace.overhead_ms", p50 - plainP50)
    report.set("trace.layers_sum_ratio", ratio)
    report.set("ops.vector_index.topk_ms_p50", Stats.median(topk.toSeq))
    report.set("ops.vector_index.distributed_topk_ms_p50", Stats.median(dist.toSeq))
    report.set("core.collection.materialize_ms_p50", Stats.median(mat.toSeq))
    report.set("core.collection.other_ms_p50", Stats.median(other.toSeq))
    report.set("core.filters.scan_ms_p50", Stats.median(scan.toSeq))
    report.set("functions.score_topk_ms_p50", Stats.median(scored.toSeq))
    report.set("core.collection.filtered_other_ms_p50", Stats.median(fother.toSeq))
    val nq = counts.length.max(1).toDouble
    report.set("spark.jobs_per_query", counts.map(_.jobs).sum / nq)
    report.set("spark.stages_per_query", counts.map(_.stages).sum / nq)
    report.set("spark.tasks_per_query", counts.map(_.tasks).sum / nq)
    report.set("spark.codegen_compiles_per_query", counts.map(_.compiles).sum / nq)
    report.set("jvm.gc_ms_per_query", counts.map(_.gcMs).sum / nq)
    report.note(f"${e2e.length} traced unfiltered and ${fe2e.length} filtered queries; layers sum to " +
      f"$ratio%.3f of the traced query p50 " +
      (if (math.abs(ratio - 1) <= 0.1) "(within 10%)" else "(NOT within 10%)"))
  }
}

package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.{Collection, DB, Document, QueryResult}
import graft.embed.HashingEmbeddingFunc
import graft.persist.Persistence

/**
 * write_mix: a persistent DB (parquet per collection) seeded with 5,000
 * docs (d = 384, 480-character content). The timed operation is an
 * addDocuments upsert of 100 docs, 25 of which overwrite existing ids;
 * each upsert is followed by 2 unfiltered and 2 filtered queries, which
 * run the DataFrame path over parquet because every mutation drops the
 * index. Every 4th batch also deletes one earlier batch by `where`.
 * A plain-Scala model of the collection checks every result.
 *
 * The traced run adds per-upsert Spark and disk counters and the tail:
 * buildIndex, export/import of the same snapshot plain, gzip and
 * gzip+AES, and a DB.persistent reopen with its first query.
 */
object WriteMix extends Serializable {
  val N0 = 5000
  val Dim = 384
  val Chars = 480
  val BatchSize = 100
  val Overwrites = 25
  val K = 10
  val SetupReps = 3
  // untimed batches before the timed loop, up to and including the first
  // delete, so the JIT has compiled every path the timed batches take
  val WarmupBatches = 4
  // every DeleteEvery-th batch deletes the batch written DeleteEvery / 2
  // batches before it; a run holds about 7 batches on 4 cores
  val DeleteEvery = 4
  val Key = "perfbench-snapshot-key-32-bytes!"

  def userBytes(d: Document): Long =
    d.id.length + d.metadata.iterator.map { case (k, v) => k.length + v.length }.sum +
      4L * d.embedding.length + Option(d.content).map(_.length).getOrElse(0)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val seed = ctx.args.seed
    val report = ctx.report
    val ef = new HashingEmbeddingFunc(Dim)
    def seedDoc(i: Long) = Gen.doc(seed, Gen.docId("w", i), i, Dim, Chars, Map("batch" -> "0"))
    val input = Gen.corpusDF(spark, 0, N0, ctx.args.cores)(seedDoc)
    def root(r: Int) = s"${ctx.args.scratch}/db$r"
    def open(r: Int): Collection = {
      val db = DB.persistent(spark, root(r), ef)
      val c = db.createCollection("bench")
      c.addDF(input)
      c
    }
    val (c, rootDir) = ctx.tracer match {
      case None =>
        val c = Setup.repeat(ctx, SetupReps)(open) { (r, _) => Setup.deleteTree(Paths.get(root(r))) }
        (c, root(SetupReps - 1))
      case Some(_) =>
        val (c, ns) = Stats.timeNs(open(0))
        report.set("core.add_df_s", Stats.s(ns))
        (c, root(0))
    }
    input.unpersist(blocking = true)
    Setup.reportHeap(ctx)
    val collDir = Persistence.collectionDir(rootDir, "bench")
    ctx.phase("set-up")

    val model = mutable.LinkedHashMap.empty[String, Document]
    Par.tabulate(N0)(i => seedDoc(i)).foreach(d => model(d.id) = d)
    var live = model.keysIterator.toIndexedSeq
    var nextRow = N0.toLong

    def checkQuery(tag: String, q: QueryWorkload.Query, res: Seq[QueryResult]): Boolean =
      Oracle.check(res.map(r => r.id -> r.similarity),
        Oracle.ranked(model.values, q.vec, q.where, q.whereDocument, K), K) match {
        case None => true
        case Some(why) => report.note(s"$tag: $why"); false
      }

    val timer = new OpTimer
    val queryMs, deleteMs = mutable.ArrayBuffer.empty[Double]
    val upsertCounts = mutable.ArrayBuffer.empty[Counters]
    val written, amplification = mutable.ArrayBuffer.empty[Double]

    def batch(b: Int, timed: Boolean): Unit = {
      val r = Gen.rng(seed, Gen.BatchStream, b)
      val docs = Vector.tabulate(BatchSize) { j =>
        val row = nextRow + j
        val id = if (j < Overwrites) live(r.nextInt(live.length)) else Gen.docId("w", row)
        Gen.doc(seed, id, row, Dim, Chars, Map("batch" -> b.toString))
      }
      nextRow += BatchSize
      val batchBytes = docs.map(userBytes).sum.toDouble
      val ok = ctx.tracer match {
        case Some(tracer) if timed =>
          val ((res, _, cnt), _) = timer("upsert")(tracer.measured("core.collection.add_documents")(attemptOp(c.addDocuments(docs))))
          upsertCounts += cnt
          val w = dirBytes(collDir.resolve("documents")).toDouble
          written += w; amplification += w / batchBytes
          res
        case _ if timed => timer("upsert")(attemptOp(c.addDocuments(docs)))._1
        case _ => attemptOp(c.addDocuments(docs))
      }
      report.attempt(ok, s"upsert batch $b")
      docs.foreach(d => model(d.id) = d)
      live = model.keysIterator.toIndexedSeq

      for (j <- 0 until 4) {
        val q = QueryWorkload.query(seed, b * 4 + j, filtered = j >= 2, Dim)
        report.guard(s"batch $b query $j") {
          val (res, ns) = Stats.timeNs(c.queryEmbedding(q.vec, K, q.where, q.whereDocument))
          if (timed) queryMs += Stats.ms(ns)
          checkQuery(s"batch $b query $j", q, res)
        }
      }
      if (b % DeleteEvery == 0) {
        val victim = (b - DeleteEvery / 2).toString
        report.guard(s"batch $b delete") {
          val (_, ns) = Stats.timeNs(c.delete(where = Map("batch" -> victim)))
          if (timed) deleteMs += Stats.ms(ns)
          model.filterInPlace((_, d) => d.metadata("batch") != victim)
          live = model.keysIterator.toIndexedSeq
          c.count() == model.size
        }
      }
    }

    (1 to WarmupBatches).foreach(b => batch(b, timed = false))
    ctx.phase("warm-up")
    ctx.loop(ctx.args.seconds)(i => batch(WarmupBatches + 1 + i, timed = true))

    ctx.phase("batches")
    report.guard("count after the loop")(c.count() == model.size)
    val r = Gen.rng(seed, Gen.BatchStream, -1L)
    (0 until 10).foreach { j =>
      val id = live(r.nextInt(live.length))
      report.guard(s"getByID $id")(same(c.getByID(id), model(id)))
    }
    timer.report(report)
    report.set("core.df_query_ms_p50", Stats.median(queryMs.toSeq))
    report.set("core.delete_ms_p50", Stats.median(deleteMs.toSeq))

    ctx.tracer.foreach { tracer =>
      val n = upsertCounts.length.max(1).toDouble
      report.set("spark.jobs_per_upsert", upsertCounts.map(_.jobs).sum / n)
      report.set("spark.shuffle_bytes_per_upsert", upsertCounts.map(_.shuffleBytes).sum / n)
      report.set("persist.bytes_written_per_upsert", Stats.mean(written.toSeq))
      report.set("persist.write_amplification", Stats.mean(amplification.toSeq))
      report.set("persist.stored_bytes_per_user_byte",
        dirBytes(collDir).toDouble / model.valuesIterator.map(userBytes).sum)
      tail(ctx, tracer, c, rootDir, ef, model, checkQuery)
    }
  }

  private def attemptOp(body: => Unit): Boolean =
    try { body; true } catch { case _: Exception => false }

  private def same(a: Document, b: Document): Boolean =
    a.id == b.id && a.metadata == b.metadata && a.content == b.content &&
      a.embedding.length == b.embedding.length &&
      a.embedding.indices.forall(i => math.abs(a.embedding(i) - b.embedding(i)) <= 1e-6f)

  /** buildIndex, export/import three ways, reopen + first query. */
  private def tail(ctx: Ctx, tracer: Tracer, c: Collection, rootDir: String,
      ef: HashingEmbeddingFunc, model: mutable.LinkedHashMap[String, Document],
      checkQuery: (String, QueryWorkload.Query, Seq[QueryResult]) => Boolean): Unit = {
    val report = ctx.report
    val spark = ctx.spark
    val (_, idxNs) = Stats.timeNs(tracer.span("core.collection.build_index")(c.buildIndex()))
    report.set("core.build_index_s", Stats.s(idxNs))
    val db = DB.persistent(spark, rootDir, ef)
    val forms = Seq(("plain", false, ""), ("gzip", true, ""), ("aes", true, Key))
    forms.foreach { case (form, gzip, key) =>
      val file = s"${ctx.args.scratch}/snapshot-$form.bin"
      val (_, exNs) = Stats.timeNs(tracer.span(s"persist.export_$form")(
        db.exportToFile(file, compress = gzip, encryptionKey = key)))
      if (form == "aes") report.set("persist.snapshot_mb", Files.size(Paths.get(file)) / 1048576.0)
      if (form != "gzip") report.set(s"persist.export_${form}_s", Stats.s(exNs))
      val fresh = DB.inMemory(spark, ef)
      report.guard(s"import $form") {
        val (_, imNs) = Stats.timeNs(tracer.span(s"persist.import_$form")(
          fresh.importFromFile(file, encryptionKey = key)))
        report.set(s"persist.import_${form}_s", Stats.s(imNs))
        fresh.getCollection("bench").count() == model.size
      }
      Files.deleteIfExists(Paths.get(file))
    }
    val q = QueryWorkload.query(ctx.args.seed, -7, filtered = false, Dim)
    report.guard("reopen") {
      val ((reopened, res), ns) = Stats.timeNs(tracer.span("core.reopen") {
        val c2 = DB.persistent(spark, rootDir, ef).getCollection("bench")
        (c2, c2.queryEmbedding(q.vec, K))
      })
      report.set("core.reopen_s", Stats.s(ns))
      checkQuery("reopen query", q, res) && reopened.count() == model.size
    }
  }
}

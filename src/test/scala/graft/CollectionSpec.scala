package graft

import graft.core.{DB, Document, NegativeMode, NegativeQueryOptions, QueryOptions, QueryResult}
import graft.embed.{ConstEmbeddingFunc, HashingEmbeddingFunc}

/** API parity with reference collection_test.go (add/query/delete/errors). */
class CollectionSpec extends SparkSuite {

  private def freshDb = withLogLevel(DB.inMemory(spark, ConstEmbeddingFunc.stub()))

  test("add + query roundtrip stores doc fields (collection_test.go:13-311)") {
    val c = freshDb.createCollection("add-test", Map("created-by" -> "spec"))
    c.add(
      ids = Seq("1", "2"),
      metadatas = Seq(Map("k" -> "v1"), Map("k" -> "v2")),
      contents = Seq("hello world", "hallo welt"))
    assert(c.count() === 2)
    val d = c.getByID("1")
    assert(d.metadata === Map("k" -> "v1"))
    assert(d.content === "hello world")
    // stub embedding is pre-normalized; stored as-is
    assert(d.embedding.toSeq === ConstEmbeddingFunc.stub3.toSeq)
    assert(c.metadata === Map("created-by" -> "spec"))
  }

  test("add validation errors (collection.go:140-173)") {
    val c = freshDb.createCollection("add-errors")
    def msg(f: => Unit): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(msg(c.add(Seq.empty)) === "ids are empty")
    assert(msg(c.add(Seq("1"))) === "either embeddings or contents must be filled")
    assert(msg(c.add(Seq("1"), embeddings = Seq(Array(1f), Array(2f)))) ===
      "ids and embeddings must have the same length")
    assert(msg(c.add(Seq("1"), contents = Seq("a", "b"))) ===
      "ids and contents must have the same length")
    assert(msg(c.add(Seq("1"), contents = Seq("a"),
      metadatas = Seq(Map("a" -> "b"), Map("c" -> "d")))) ===
      "when metadatas is not empty it must have the same length as ids")
    assert(msg(c.addConcurrently(Seq("1"), contents = Seq("a"), concurrency = 0)) ===
      "concurrency must be at least 1")
  }

  test("query error cases with exact messages (collection_test.go:313-392)") {
    val c = freshDb.createCollection("query-errors")
    c.addDocuments(Seq(Document("1", content = "hello world")))
    def msg(f: => Unit): String = intercept[Exception](f).getMessage
    assert(msg(c.query("", 1)) === "queryText is empty")
    assert(msg(c.queryEmbedding(Array.empty[Float], 1)) === "queryEmbedding is empty")
    assert(msg(c.queryEmbedding(Array(1f), 0)) === "nResults must be > 0")
    assert(msg(c.queryEmbedding(Array(1f), 5)) ===
      "nResults must be <= the number of documents in the collection")
    assert(msg(c.queryWithOptions(QueryOptions(nResults = 1))) ===
      "QueryText and QueryEmbedding options are empty")
    assert(msg(c.queryWithOptions(QueryOptions(
      queryEmbedding = Array(1f, 0f, 0f), nResults = 1,
      negative = NegativeQueryOptions(mode = "bogus", embedding = Array(1f, 0f, 0f))))) ===
      """unsupported negative mode: "bogus"""")
    val clause = graft.core.Filters.MetaEq("k", "v")
    val vectorCalls: Seq[(String, (Array[Float], Int) => Unit)] = Seq(
      "queryEmbeddingWhere" -> ((v, k) => c.queryEmbeddingWhere(v, k, clause)),
      "queryEmbeddingApprox" -> ((v, k) => c.queryEmbeddingApprox(v, k)))
    for ((name, call) <- vectorCalls) withClue(s"$name: ") {
      assert(msg(call(Array.empty[Float], 1)) === "queryEmbedding is empty")
      assert(msg(call(Array(1f), 0)) === "nResults must be > 0")
      assert(msg(call(Array(1f), 5)) ===
        "nResults must be <= the number of documents in the collection")
    }
    assert(msg(c.queryHybrid(Seq.empty, Array(1f), 1)) === "terms is empty")
    assert(msg(c.queryHybrid(Seq("hello"), Array(1f), 0)) === "nResults must be > 0")
    assert(msg(c.queryHybrid(Seq("hello"), Array(1f), 5)) ===
      "nResults must be <= the number of documents in the collection")
    // the order of the checks when a call breaks two of them
    assert(msg(c.queryEmbedding(Array.empty[Float], 0)) === "queryEmbedding is empty")
    assert(msg(c.queryEmbeddingWhere(Array.empty[Float], 0, clause)) === "queryEmbedding is empty")
    assert(msg(c.queryEmbedding(Array(1f), 5, whereDocument = Map("$bad" -> "x"))) ===
      "nResults must be <= the number of documents in the collection")
    assert(msg(c.queryEmbedding(Array(1f), 1, whereDocument = Map("$bad" -> "x"))) ===
      "unsupported operator")
  }

  test("upsert by id overwrites (collection.go:280); within-batch last wins") {
    val c = freshDb.createCollection("upsert")
    c.addDocuments(Seq(
      Document("1", Map("v" -> "first"), content = "one"),
      Document("1", Map("v" -> "second"), content = "one updated"),
      Document("2", Map("v" -> "x"), content = "two")))
    assert(c.count() === 2)
    assert(c.getByID("1").metadata("v") === "second")
    c.addDocuments(Seq(Document("1", Map("v" -> "third"), content = "one again")))
    assert(c.count() === 2)
    assert(c.getByID("1").metadata("v") === "third")
  }

  test("getByID errors (collection.go:311-331)") {
    val c = freshDb.createCollection("get-errors")
    c.addDocuments(Seq(Document("1", content = "x")))
    assert(intercept[IllegalArgumentException](c.getByID("")).getMessage ===
      "document ID is empty")
    assert(intercept[NoSuchElementException](c.getByID("404")).getMessage ===
      "document with ID '404' not found")
  }

  test("delete by ids / metadata / $contains (collection_test.go:555-615)") {
    val c = freshDb.createCollection("del")
    c.addDocuments(Seq(
      Document("1", Map("foo" -> "bar"), content = "hello world"),
      Document("2", Map("a" -> "b"), content = "hallo welt"),
      Document("3", Map("foo" -> "bar"), content = "bonjour le monde"),
      Document("4", Map("e" -> "f"), content = "hola mundo")))
    c.delete(ids = Seq("4"))
    assert(c.count() === 3)
    c.delete(where = Map("foo" -> "bar"))
    assert(c.count() === 1)
    c.delete(whereDocument = Map("$contains" -> "hallo welt"))
    assert(c.count() === 0)
    assert(intercept[IllegalArgumentException](c.delete()).getMessage ===
      "must have at least one of where, whereDocument or ids")
    assert(intercept[IllegalArgumentException](
      c.delete(whereDocument = Map("$bad" -> "x"))).getMessage ===
      "unsupported whereDocument operator")
  }

  test("listIDs projects all ids (collection.go:296-306)") {
    val c = freshDb.createCollection("list")
    c.addDocuments((1 to 5).map(i => Document(i.toString, content = s"doc $i")))
    assert(c.listIDs().toSet === (1 to 5).map(_.toString).toSet)
    // the scale-safe variant stays LAZY: building the frame runs no job
    // and collects nothing to the driver
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val idsDF = c.listIDsDF()
    assert(idsDF.columns === Array("id"))
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after === before, "listIDsDF must not trigger a Spark job")
    assert(idsDF.count() === 5L) // materializes only when the user asks
  }

  test("auto-embedding via EmbeddingFunc when no vector given (collection.go:266-271)") {
    val db = withLogLevel(DB.inMemory(spark, new HashingEmbeddingFunc(32)))
    val c = db.createCollection("autoembed")
    c.addDocuments(Seq(
      Document("a", content = "the quick brown fox"),
      Document("b", content = "the quick brown fox"),
      Document("c", content = "completely different words here")))
    // identical content => identical embedding => similarity 1 on top hit
    val r = c.query("the quick brown fox", 2)
    assert(r.map(_.id).toSet === Set("a", "b"))
    assert(r.forall(x => math.abs(x.similarity - 1f) < 1e-5))
  }

  test("non-normalized user vectors are normalized on ingest (collection.go:272-276)") {
    val c = freshDb.createCollection("norm-ingest")
    c.addDocuments(Seq(Document("1", embedding = Array(3f, 4f, 0f))))
    val stored = c.getByID("1").embedding
    assert(math.abs(graft.functions.VectorFunctions.norm(stored) - 1.0) < 1e-6)
    assert(math.abs(stored(0) - 0.6f) < 1e-6 && math.abs(stored(1) - 0.8f) < 1e-6)
  }

  test("getCollection re-attaches a provided embedding func (db.go:552-558)") {
    val db = freshDb
    val c = db.createCollection("reattach")
    c.addDocuments(Seq(Document("1", content = "hello")))
    val newEf = new HashingEmbeddingFunc(16)
    val re = db.getCollection("reattach", newEf)
    assert(re.embedFunc eq newEf)
    assert(re.count() === 1, "state must carry over")
    assert(db.getCollection("reattach").embedFunc eq newEf,
      "registry must hold the re-attached collection")
    // identity parity (db.go:552-558 mutates the SAME object): a handle
    // taken BEFORE the re-attach must see the new func and later
    // mutations through either handle must be one shared state
    assert(re eq c, "re-attach must not fork the collection object")
    assert(c.embedFunc eq newEf)
    c.addDocuments(Seq(Document("2", content = "world")))
    assert(db.getCollection("reattach").count() === 2,
      "mutation through the old handle must be visible via the registry")
  }


  test("Document.create embeds content when no vector given (document.go:28-53)") {
    val ef = new HashingEmbeddingFunc(16)
    val d = Document.create("1", Map("a" -> "b"), content = "some text", embeddingFunc = ef)
    assert(d.embedding.toSeq === ef.embed("some text").toSeq)
    val withVec = Document.create("2", embedding = Array(1f, 0f), embeddingFunc = ef)
    assert(withVec.embedding.toSeq === Seq(1f, 0f))
    intercept[IllegalArgumentException](Document.create(""))
    intercept[IllegalArgumentException](Document.create("3"))
  }

  test("concurrent writers and readers never see torn state (RWMutex parity, collection.go:21)") {
    val ef = new graft.embed.HashingEmbeddingFunc(16)
    val db = graft.core.DB.inMemory(spark, ef)
    val c = db.createCollection("conc", Map.empty, ef)
    c.addDocuments(Seq(graft.core.Document.create("seed", content = "seed doc")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val tasks = (1 to 16).map { i =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          if (i % 2 == 0) {
            c.addDocuments(Seq(graft.core.Document.create(
              s"d$i", content = s"concurrent doc number $i")))
          } else {
            // readers observe SOME consistent snapshot: count matches the
            // snapshot they query against (no torn reads mid-commit)
            val n = c.count()
            val r = c.query("concurrent doc", math.max(1, math.min(3, n.toInt)))
            assert(r.nonEmpty)
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    assert(errors.isEmpty, s"concurrent ops failed: ${errors.peek()}")
    assert(c.count() === 9) // seed + 8 writers
    assert(c.listIDs().toSet === (Set("seed") ++ (1 to 16).filter(_ % 2 == 0).map(i => s"d$i")))
  }

  test("index-path queries stay coherent under concurrent delete/add/rebuild") {
    // Exercises the single-volatile Snap swap: with the former four
    // independent volatiles, a query could read the OLD flat index and
    // join back against the NEW state — a deleted id's row vanished in
    // the join and the result silently underfilled (< nResults). With a
    // coherent snapshot the index path always returns exactly nResults.
    val ef = new graft.embed.HashingEmbeddingFunc(16)
    val db = graft.core.DB.inMemory(spark, ef)
    val c = db.createCollection("snapc", Map.empty, ef)
    c.addDocuments((1 to 20).map(i =>
      graft.core.Document.create(s"d$i", content = s"stress doc number $i")))
    c.buildIndex()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writer = pool.submit(new Runnable {
      def run(): Unit = try {
        (1 to 4).foreach { round =>
          c.delete(ids = Seq(s"d$round"))                 // index dropped
          c.addDocuments(Seq(graft.core.Document.create(
            s"d$round-v2", content = s"stress doc number $round again")))
          c.buildIndex()                                  // index-path live again
        }
      } catch { case t: Throwable => errors.add(t) } finally stop.set(true)
    })
    val qv = ef.embed("stress doc")
    val readers = (1 to 5).map(_ => pool.submit(new Runnable {
      def run(): Unit = try {
        while (!stop.get()) {
          val r = c.query("stress doc", 5)
          assert(r.length === 5, s"underfilled result: ${r.map(_.id)}")
          assert(r.forall(x => x.content != null && x.content.startsWith("stress doc")))
        }
      } catch { case t: Throwable => errors.add(t) }
    }))
    writer.get(); readers.foreach(_.get()); pool.shutdown()
    assert(errors.isEmpty, s"concurrent index-path ops failed: ${errors.peek()}")
    assert(c.count() === 20)
    assert(qv.length === 16)
  }

  test("persistent-collection queries survive concurrent commits (read-committed retry)") {
    // A persistent collection's df is a live parquet view; each commit
    // swaps the directory and DELETES the displaced files. A query whose
    // scan straddles the swap dies with FileNotFoundException — the
    // readCommitted wrapper must retry it against the new snapshot, so
    // readers never see the race. (Each view's file list is pinned at
    // commit time, so results can't silently tear — only fail loudly.)
    // Races like this pass 99 runs and fail the 100th: the per-round
    // gate loops the whole scenario (fresh dir each rep) via
    // GRAFT_RC_STRESS_REPS; default 1 keeps `sbt test` fast.
    val reps = sys.env.getOrElse("GRAFT_RC_STRESS_REPS", "1").toInt
    for (rep <- 1 to reps) withClue(s"stress rep $rep/$reps: ") {
      readCommittedStressOnce()
    }
  }

  private def readCommittedStressOnce(): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-rc").toString
    val ef = new graft.embed.HashingEmbeddingFunc(16)
    val db = graft.core.DB.persistent(spark, root, ef)
    val c = db.createCollection("rc", Map.empty, ef)
    c.addDocuments((1 to 30).map(i =>
      graft.core.Document.create(s"d$i", content = s"persistent doc number $i")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writer = pool.submit(new Runnable {
      def run(): Unit = try {
        (1 to 5).foreach { round =>
          c.addDocuments(Seq(graft.core.Document.create(
            s"w$round", content = s"persistent doc number $round again")))
        }
      } catch { case t: Throwable => errors.add(t) } finally stop.set(true)
    })
    val readers = (1 to 4).map(i => pool.submit(new Runnable {
      def run(): Unit = try {
        while (!stop.get()) {
          i % 3 match {
            case 0 => // point lookup + id listing take the same retry path
              assert(c.getByID("d1").content === "persistent doc number 1")
              assert(c.listIDs().size >= 30)
            case _ =>
              val r = c.query("persistent doc", 5)
              assert(r.length === 5, s"underfilled result: ${r.map(_.id)}")
              assert(r.forall(_.content.startsWith("persistent doc")))
          }
        }
      } catch { case t: Throwable => errors.add(t) }
    }))
    writer.get(); readers.foreach(_.get()); pool.shutdown()
    assert(errors.isEmpty, s"persistent concurrent query failed: ${errors.peek()}")
    assert(c.count() === 35)
  }

  test("addDF rejects null/empty ids loudly even when the row carries its own embedding") {
    // addDocuments validates driver-side, but addDF is the scale entry
    // point: a null-id row WITH an embedding used to skip every guard
    // (the content check only fires for rows needing embedding) and
    // enter state as an unaddressable id (r12 fix)
    import spark.implicits._
    val c = freshDb.createCollection("null-id")
    for (badId <- Seq(null.asInstanceOf[String], "")) withClue(s"id=$badId: ") {
      val df = withLogLevel(spark.createDataset(Seq(
        Document(badId, Map.empty, Array(1f, 0f, 0f), "has its own vector"))).toDF())
      val e = intercept[Exception] { withLogLevel(c.addDF(df)) }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .take(10).map(t => Option(t.getMessage).getOrElse("")).toSeq
      assert(msgs.exists(_.contains("document id is empty")), s"got: $msgs")
    }
    assert(c.count() === 0, "failed batch must not mutate state")
  }

  test("query clamps k to filtered size but errors when k > count (collection.go:505,536)") {
    val c = freshDb.createCollection("clamp")
    c.addDocuments(Seq(
      Document("1", Map("t" -> "x"), Array(1f, 0f, 0f)),
      Document("2", Map("t" -> "y"), Array(0f, 1f, 0f)),
      Document("3", Map("t" -> "x"), Array(0f, 0f, 1f))))
    // filter leaves 2 docs; k=3 allowed (clamped result)
    val r = c.queryEmbedding(Array(1f, 0f, 0f), 3, where = Map("t" -> "x"))
    assert(r.length === 2)
    assert(r.head.id === "1" && math.abs(r.head.similarity - 1f) < 1e-6)
  }

  test("queryKeyword ranks by BM25 and materializes full documents") {
    val c = freshDb.createCollection("kw")
    c.add(
      ids = Seq("1", "2", "3"),
      metadatas = Seq(Map("s" -> "a"), Map("s" -> "b"), Map("s" -> "c")),
      contents = Seq("spark spark spark engine", "spark tutorial", "nothing here"))
    val r = c.queryKeyword(Seq("spark"), 3)
    assert(r.map(_.id) === Seq("1", "2")) // doc 3 shares no term ⇒ excluded
    assert(r.head.similarity > r(1).similarity)
    assert(r.head.content === "spark spark spark engine")
    assert(r.head.metadata === Map("s" -> "a"))
    def msg(f: => Unit): String = intercept[Exception](f).getMessage
    assert(msg(c.queryKeyword(Seq.empty, 1)) === "terms is empty")
    assert(msg(c.queryKeyword(Seq("spark"), 0)) === "nResults must be > 0")
    assert(msg(c.queryKeyword(Seq("spark"), 9)) ===
      "nResults must be <= the number of documents in the collection")
  }

  test("queryMaxSim scores by best sub-vector match per query part") {
    val c = freshDb.createCollection("maxsim")
    // 4-dim = 2 sub-vectors of 2; docs pre-normalized
    val s = math.sqrt(0.5).toFloat
    c.addDocuments(Seq(
      Document("ordered", Map.empty, Array(s, 0f, 0f, s)),   // parts in order
      Document("swapped", Map.empty, Array(0f, s, s, 0f)),   // parts swapped
      Document("half", Map.empty, Array(s, 0f, s, 0f))))     // one part matches
    val q = Array(s, 0f, 0f, s)
    val r = c.queryMaxSim(q, 3, numSub = 2)
    // MaxSim is part-permutation invariant: ordered == swapped > half
    assert(r.map(_.id).toSet.contains("ordered"))
    val byId = r.map(x => x.id -> x.similarity).toMap
    assert(math.abs(byId("ordered") - byId("swapped")) < 1e-6)
    assert(byId("ordered") > byId("half"))
    def msg(f: => Unit): String = intercept[Exception](f).getMessage
    assert(msg(c.queryMaxSim(Array.empty[Float], 1)) === "queryEmbedding is empty")
    assert(msg(c.queryMaxSim(q, 0)) === "nResults must be > 0")
  }

  test("queryHybrid fuses keyword and vector evidence with RRF") {
    val db = withLogLevel(DB.inMemory(spark, new HashingEmbeddingFunc(8)))
    val c = db.createCollection("hybrid")
    c.add(
      ids = Seq("lex", "sem", "both", "none"),
      contents = Seq(
        "spark spark spark spark",     // strong lexical match only
        "completely different words",  // will match only by vector
        "spark here too",              // lexical + whatever vector
        "irrelevant filler text"))
    // query vector = embedding of the "sem" doc ⇒ sem ranks 1st semantically
    val qv = new HashingEmbeddingFunc(8).embed("completely different words")
    val r = c.queryHybrid(Seq("spark"), qv, nResults = 4)
    assert(r.nonEmpty)
    val ids = r.map(_.id)
    assert(ids.contains("sem") && ids.contains("lex"))
    // every returned similarity is a positive RRF mass ≤ 2/(rrfK+1)
    r.foreach(x => assert(x.similarity > 0f && x.similarity <= 2f / 61f + 1e-6f))
    assert(msgOf(c.queryHybrid(Seq("spark"), Array.empty[Float], 1)) ===
      "queryEmbedding is empty")
  }

  private def msgOf(f: => Unit): String = intercept[Exception](f).getMessage

  // ---- single-pass indexed query ≡ the queryDF path ----

  private val tieVec = Array(0.6f, 0.8f, 0f, 0f, 0f, 0f, 0f, 0f)

  /** 40 docs over d = 8. Five share `tieVec` (d03, d11, d19, d27, d35),
    * every 4th has null content, and by i % 3 the metadata is empty, two
    * entries or null. */
  private lazy val singlePassDocs: Seq[Document] = {
    val rnd = new scala.util.Random(31)
    (0 until 40).map { i =>
      Document(f"d$i%02d",
        metadata = i % 3 match {
          case 0 => Map.empty
          case 1 => Map("k" -> s"v$i", "g" -> (i % 2).toString)
          case _ => null
        },
        embedding = if (i % 8 == 3) tieVec else Array.fill(8)(rnd.nextFloat() * 2f - 1f),
        content = if (i % 4 == 0) null else s"content of doc $i")
    }
  }

  /** Every field of each result, floats as raw bits: equal keys mean
    * bit-equal results in the same order. */
  private def bits(rs: Seq[QueryResult]): Seq[Any] = rs.map { r =>
    (r.id, java.lang.Float.floatToRawIntBits(r.similarity), r.metadata, r.content,
      r.embedding.toSeq.map(java.lang.Float.floatToRawIntBits))
  }

  /** Each public query at k = 1, 10 and count(), unfiltered and
    * filtered, answered by the queryDF path before buildIndex and by the
    * index after it, must be bit-equal, and a bad filter must fail with
    * the same message on both; a returned embedding must not alias the
    * slab. */
  private def singlePassMatchesQueryDF(db: DB): Unit = {
    import graft.core.Filters._
    val c = db.createCollection("single-pass")
    c.addDocuments(singlePassDocs)
    val n = c.count().toInt
    val q = Array(0.3f, -1.2f, 0.5f, 0.9f, -0.1f, 0.4f, 0.7f, -0.6f) // not normalized
    def negFilter(k: Int, threshold: Float, where: Map[String, String] = Map.empty) =
      c.queryWithOptions(QueryOptions(queryEmbedding = q, nResults = k, where = where,
        negative = NegativeQueryOptions(mode = NegativeMode.Filter, embedding = tieVec,
          filterThreshold = threshold)))
    val clause = Or(Seq(
      And(Seq(ContentContains("doc 1"), Not(MetaEq("g", "1")))),
      MetaEq("k", "v13")))
    val calls: Seq[(String, () => Seq[QueryResult])] = Seq(1, 10, n).flatMap { k =>
      Seq(
        s"queryEmbedding k=$k" -> (() => c.queryEmbedding(q, k)),
        s"ties k=$k" -> (() => c.queryEmbedding(tieVec, k)),
        s"query k=$k" -> (() => c.query("content of doc", k)),
        s"queryWithOptions subtract k=$k" -> (() => c.queryWithOptions(QueryOptions(
          queryEmbedding = q, nResults = k,
          negative = NegativeQueryOptions(embedding = tieVec)))),
        s"where present key k=$k" -> (() => c.queryEmbedding(q, k, where = Map("g" -> "1"))),
        s"where empty value (missing key, null metadata) k=$k" ->
          (() => c.queryEmbedding(tieVec, k, where = Map("k" -> ""))),
        s"where two keys, one row k=$k" ->
          (() => c.queryEmbedding(q, k, where = Map("k" -> "v7", "g" -> "1"))),
        s"where no row k=$k" -> (() => c.queryEmbedding(q, k, where = Map("g" -> "7"))),
        s"contains k=$k" ->
          (() => c.queryEmbedding(q, k, whereDocument = Map("$contains" -> "doc 1"))),
        s"not_contains (null content passes) k=$k" ->
          (() => c.queryEmbedding(q, k, whereDocument = Map("$not_contains" -> "doc 1"))),
        s"contains empty needle k=$k" ->
          (() => c.queryEmbedding(q, k, whereDocument = Map("$contains" -> ""))),
        s"not_contains empty needle k=$k" ->
          (() => c.queryEmbedding(q, k, whereDocument = Map("$not_contains" -> ""))),
        s"where and whereDocument k=$k" -> (() => c.query("content of doc", k,
          where = Map("g" -> "1"),
          whereDocument = Map("$contains" -> "doc", "$not_contains" -> "doc 1"))),
        s"negative filter default threshold k=$k" -> (() => negFilter(k, 0f)),
        s"negative filter on the ties k=$k" -> (() => negFilter(k, 0.25f)),
        s"negative filter and where k=$k" -> (() => negFilter(k, 0.3f, Map("k" -> ""))),
        s"queryEmbeddingWhere k=$k" -> (() => c.queryEmbeddingWhere(q, k, clause)),
        s"queryEmbeddingWhere ties k=$k" ->
          (() => c.queryEmbeddingWhere(tieVec, k, Not(ContentContains("doc 1"))))
      )
    }
    val badFilters: Seq[(String, () => Seq[QueryResult])] = Seq(
      "operator" -> (() => c.queryEmbedding(q, 1, whereDocument = Map("$regex" -> "x"))),
      "null where value" -> (() => c.queryEmbedding(q, 1, where = Map("k" -> null))),
      "null where key" -> (() => c.queryEmbedding(q, 1, where = Map((null: String) -> "v"))),
      "null needle" -> (() => c.queryEmbedding(q, 1, whereDocument = Map("$contains" -> null))),
      "null clause value" -> (() => c.queryEmbeddingWhere(q, 1, Or(Seq(MetaEq("k", null))))),
      "null clause needle" -> (() => c.queryEmbeddingWhere(q, 1, Not(ContentNotContains(null)))),
      "negative of another dimension" -> (() => c.queryWithOptions(QueryOptions(
        queryEmbedding = q, nResults = 1, where = Map("g" -> "7"),
        negative = NegativeQueryOptions(mode = NegativeMode.Filter, embedding = Array(1f, 0f, 0f))))))
    def errors = badFilters.map { case (name, f) =>
      name -> intercept[IllegalArgumentException](f()).getMessage
    }
    val viaQueryDF = calls.map { case (_, f) => bits(f()) }
    val errorsViaQueryDF = errors
    assert(errorsViaQueryDF.map(_._2).distinct.sorted === Seq("unsupported operator",
      "vectors must have the same length: 3 vs 8",
      "where keys and values must be non-null", "whereDocument values must be non-null"))
    assert(viaQueryDF.exists(_.isEmpty), "a filter that passes no row")
    assert(viaQueryDF.exists(r => r.nonEmpty && r.length < 10), "a filter that passes fewer than k")
    assert(!c.hasIndex)
    c.buildIndex()
    assert(c.hasIndex)
    calls.zip(viaQueryDF).foreach { case ((name, f), want) =>
      assert(bits(f()) === want, name)
    }
    assert(errors === errorsViaQueryDF)
    assert(c.queryEmbedding(tieVec, 5).map(_.id) === Seq("d03", "d11", "d19", "d27", "d35"),
      "five tied vectors: id asc")
    val first = c.queryEmbedding(tieVec, 3)
    val want = bits(first)
    first.foreach(r => java.util.Arrays.fill(r.embedding, 42f))
    assert(bits(c.queryEmbedding(tieVec, 3)) === want, "a returned embedding aliases the index")
  }

  test("indexed query is bit-equal to the queryDF path: in-memory collection") {
    singlePassMatchesQueryDF(withLogLevel(DB.inMemory(spark, new HashingEmbeddingFunc(8))))
  }

  test("indexed query is bit-equal to the queryDF path: persistent collection") {
    val root = java.nio.file.Files.createTempDirectory("graft-single-pass").toString
    singlePassMatchesQueryDF(withLogLevel(DB.persistent(spark, root, new HashingEmbeddingFunc(8))))
  }

  /** Asserts that `query`, run on an indexed driver-local collection of
    * `singlePassDocs` after one warm-up call, starts no Spark job and
    * returns `want` rows. */
  private def assertNoSparkJob(name: String, want: Int)(
      query: graft.core.Collection => Seq[QueryResult]): Unit = {
    val c = withLogLevel(DB.inMemory(spark, new HashingEmbeddingFunc(8)))
      .createCollection(name)
    c.addDocuments(singlePassDocs)
    c.buildIndex()
    query(c) // warm
    val jobs = sparkJobs(assert(query(c).length === want))
    assert(jobs === 0, s"indexed $name query ran $jobs Spark job(s)")
  }

  test("an indexed, unfiltered query on a driver-local collection runs no Spark job") {
    assertNoSparkJob("unfiltered", want = 10)(_.queryEmbedding(tieVec, 10))
  }

  test("an indexed, filtered query on a driver-local collection runs no Spark job") {
    assertNoSparkJob("where + whereDocument", want = 3)(_.queryEmbedding(tieVec, 10,
      where = Map("g" -> "1"), whereDocument = Map("$contains" -> "doc 1")))
    assertNoSparkJob("negative filter", want = 10)(_.queryWithOptions(QueryOptions(
      queryEmbedding = tieVec, nResults = 10,
      negative = NegativeQueryOptions(mode = NegativeMode.Filter, embedding = tieVec))))
  }

  // ---- one-job upsert: addDocuments ≡ addDF ----

  private def vec(v: Float*): Array[Float] = v.toArray

  /** Each call of the differential test, as documents plus the
    * `concurrency` addDocuments runs them at. */
  private val upsertCalls: Seq[(String, Seq[Document], Int)] = Seq(
    ("duplicate ids within a batch, un-normalized vectors", Seq(
      Document("a", Map("v" -> "first"), vec(3f, 4f, 0f), "alpha"),
      Document("b", Map.empty, vec(0f, 2f, 0f), "beta"),
      Document("a", Map("v" -> "second"), vec(0f, 0f, 5f), "alpha again"),
      Document("c", null, vec(1f, 1f, 1f), null),
      Document("b", null, vec(0.6f, 0.8f, 0f), "beta again")), 1),
    ("overwrites of existing ids and new ids", Seq(
      Document("c", Map("k" -> "c2"), vec(1f, -2f, 0.5f), "gamma"),
      Document("d", Map.empty, vec(0f, 0f, 1f), null),
      Document("a", null, vec(-1f, 0f, 0f), "alpha third")), 3),
    ("documents without vectors at concurrency 1", Seq(
      Document("e", Map("k" -> "e"), content = "echo text"),
      Document("b", Map.empty, content = "beta by text"),
      Document("e", null, content = "echo text again"),
      Document("f", null, vec(2f, 0f, 0f), null)), 1),
    ("documents without vectors at concurrency 3", Seq(
      Document("g", Map.empty, content = "golf"),
      Document("h", Map("k" -> "h"), content = "hotel"),
      Document("d", null, content = "delta by text"),
      Document("i", Map("k" -> ""), vec(0f, 3f, 4f), "india"),
      Document("j", null, content = "juliett")), 3))

  /** Every stored row, ordered by id, floats as raw bits. */
  private def storedBits(c: graft.core.Collection): Seq[Any] = {
    import spark.implicits._
    c.df.as[Document].collect().sortBy(_.id).toSeq.map { d =>
      (d.id, d.metadata, d.content, Option(d.embedding).map(_.toSeq.map(java.lang.Float.floatToRawIntBits)))
    }
  }

  /** addDocuments and addDF of the same documents leave bit-equal rows
    * after every call, and count() equals a fresh scan. */
  private def addDocumentsMatchesAddDF(db: DB): Unit = {
    import spark.implicits._
    val viaDocs = db.createCollection("via-documents")
    val viaDF = db.createCollection("via-dataframe")
    upsertCalls.foreach { case (name, docs, concurrency) =>
      viaDocs.addDocuments(docs, concurrency)
      viaDF.addDF(spark.createDataset(docs).toDF())
      withClue(s"$name: ") {
        assert(storedBits(viaDocs) === storedBits(viaDF))
        assert(viaDocs.count() === viaDocs.df.count())
        assert(viaDF.count() === viaDF.df.count())
      }
    }
    val stored = viaDocs.df.as[Document].collect().map(d => d.id -> d).toMap
    assert(stored.keySet === "abcdefghij".map(_.toString).toSet)
    assert(stored("a").content === "alpha third" && stored("a").metadata === null)
    assert(stored("e").content === "echo text again", "within-batch last wins")
    assert(stored.values.forall(d => math.abs(graft.functions.VectorFunctions.norm(d.embedding) - 1.0) < 1e-6))
  }

  test("addDocuments stores the same rows as addDF: in-memory collection") {
    addDocumentsMatchesAddDF(withLogLevel(DB.inMemory(spark, new HashingEmbeddingFunc(3))))
  }

  test("addDocuments stores the same rows as addDF: persistent collection") {
    val root = java.nio.file.Files.createTempDirectory("graft-upsert-diff").toString
    addDocumentsMatchesAddDF(withLogLevel(DB.persistent(spark, root, new HashingEmbeddingFunc(3))))
  }

  test("addDocuments embeds each text exactly once per call") {
    val root = java.nio.file.Files.createTempDirectory("graft-embed-once").toString
    val dbs = Seq("in-memory" -> DB.inMemory(spark, ConstEmbeddingFunc.stub()),
      "persistent" -> DB.persistent(spark, root, ConstEmbeddingFunc.stub()))
    for ((kind, db) <- dbs; concurrency <- Seq(1, 3)) withClue(s"$kind, concurrency $concurrency: ") {
      val tag = s"$kind-$concurrency"
      val c = withLogLevel(db.createCollection(tag, embeddingFunc = new CountingEmbeddingFunc(tag)))
      c.addDocuments((1 to 8).map(i => Document(s"d$i", content = s"text $i")), concurrency)
      assert(CountingEmbeddingFunc.take(tag) === (1 to 8).map(i => s"text $i" -> 1).toMap)
      // overwrites, a within-batch duplicate and a document with its own vector
      c.addDocuments(Seq(Document("d1", content = "text 1 again"), Document("d9", content = "text 9"),
        Document("d9", content = "text 9 again"), Document("d2", embedding = vec(1f, 0f, 0f))),
        concurrency)
      assert(CountingEmbeddingFunc.take(tag) === Map("text 1 again" -> 1, "text 9 again" -> 1))
      assert(c.count() === 9)
    }
  }

  test("a persistent addDocuments of documents with vectors runs exactly one Spark job") {
    val root = java.nio.file.Files.createTempDirectory("graft-one-job").toString
    val c = withLogLevel(DB.persistent(spark, root, new HashingEmbeddingFunc(8)))
      .createCollection("one-job")
    c.addDocuments(singlePassDocs)
    val upsert = singlePassDocs.take(10).map(d => d.copy(content = s"${d.id} updated")) ++
      (40 until 50).map(i => Document(s"d$i", Map("k" -> s"v$i"), tieVec, s"new doc $i"))
    val jobs = sparkJobs(c.addDocuments(upsert))
    assert(jobs === 1, s"persistent addDocuments ran $jobs Spark job(s)")
    assert(c.count() === 50 && c.df.count() === 50)
    assert(c.getByID("d03").content === "d03 updated")
  }

  test("an in-memory addDocuments / delete runs exactly one Spark job") {
    val c = withLogLevel(DB.inMemory(spark, new HashingEmbeddingFunc(8))).createCollection("one-job")
    c.addDocuments(singlePassDocs)
    val upsert = singlePassDocs.take(10).map(d => d.copy(content = s"${d.id} updated")) ++
      (40 until 50).map(i => Document(s"d$i", Map("k" -> s"v$i"), tieVec, s"new doc $i"))
    val addJobs = sparkJobs(c.addDocuments(upsert))
    assert(addJobs === 1, s"in-memory addDocuments ran $addJobs Spark job(s)")
    assert(c.count() === 50 && c.df.count() === 50)
    val deleteJobs = sparkJobs(c.delete(ids = Seq("d03", "d44")))
    assert(deleteJobs === 1, s"in-memory delete ran $deleteJobs Spark job(s)")
    assert(c.count() === 48 && c.df.count() === 48)
    assert(c.getByID("d05").content === "d05 updated")
  }

  test("an embedding failure partway through a batch leaves a persistent collection as it was") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft-upsert-atomic").toString
    val db = withLogLevel(DB.persistent(spark, root, new HashingEmbeddingFunc(8)))
    val c = db.createCollection("atomic")
    c.addDocuments(singlePassDocs)
    val dir = graft.persist.Persistence.collectionDir(root, "atomic").resolve("documents")
    def files: Seq[(String, Long)] = {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map((f: Path) => dir.relativize(f).toString -> Files.size(f)).toSeq.sorted
      finally s.close()
    }
    def state = (c.count(), files, bits(c.queryEmbedding(tieVec, 10)),
      bits(c.queryEmbedding(tieVec, 10, where = Map("g" -> "1"))))
    val before = state
    db.getCollection("atomic", new FailingEmbeddingFunc("text 3", new HashingEmbeddingFunc(8)))
    val batch = (1 to 6).map(i => Document(s"n$i", content = s"text $i")) :+ singlePassDocs(5)
    val started = System.nanoTime()
    intercept[Exception](withLogLevel(c.addDocuments(batch)))
    val seconds = (System.nanoTime() - started) / 1e9
    // below the 10-s bound on the wait for the write's observed row count
    assert(seconds < 10, s"failed addDocuments took $seconds s")
    assert(state === before)
    // the failed write leaves its output dir behind; the next commit clears it
    assert(Files.exists(dir.resolveSibling("documents.tmp")))
    db.getCollection("atomic", new HashingEmbeddingFunc(8))
    c.addDocuments(batch)
    assert(c.count() === 46 && c.df.count() === 46)
    assert(!Files.exists(dir.resolveSibling("documents.tmp")))
  }
}

/** Counts, per tag, how often each text was embedded; tasks run in this
  * JVM, so every serialized copy of a func counts into the same map. */
class CountingEmbeddingFunc(tag: String) extends graft.embed.EmbeddingFunc {
  private val inner = new HashingEmbeddingFunc(3)
  def embed(text: String): Array[Float] = {
    CountingEmbeddingFunc.seen.computeIfAbsent(tag, _ => new java.util.concurrent.ConcurrentHashMap)
      .merge(text, 1, (a: Int, b: Int) => a + b)
    inner.embed(text)
  }
}

object CountingEmbeddingFunc {
  private val seen = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[String, Int]]

  /** The texts `tag` embedded since the last call, with their counts. */
  def take(tag: String): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    Option(seen.remove(tag)).map(_.asScala.toMap).getOrElse(Map.empty)
  }
}

/** Delegates to `inner`, but throws on the text `bad`. */
class FailingEmbeddingFunc(bad: String, inner: graft.embed.EmbeddingFunc)
    extends graft.embed.EmbeddingFunc {
  def embed(text: String): Array[Float] =
    if (text == bad) throw new IllegalStateException(s"embedding failed on '$text'")
    else inner.embed(text)
}

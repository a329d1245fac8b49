package graft

import graft.core.{DB, Document, NegativeMode, NegativeQueryOptions, QueryOptions}
import graft.embed.ConstEmbeddingFunc

/**
 * Negative-query ranking pinned to the reference's real 768-dim
 * nomic-embed-text fixtures (fixtures_test.go; assertions from
 * query_test.go:111-198).
 */
class NegativeQuerySpec extends SparkSuite {

  private lazy val coll = withLogLevel {
    val db = DB.inMemory(spark, ConstEmbeddingFunc.stub())
    val c = db.createCollection("negative-test")
    c.addDocuments(Seq(
      Document("1", embedding = testEmbeddings("search_document: Village Builder Game")),
      Document("2", embedding = testEmbeddings("search_document: Town Craft Idle Game")),
      Document("3", embedding = testEmbeddings("search_document: Some Idle Game"))))
    c
  }

  test("fixtures load as 5 x 768-dim vectors") {
    assert(testEmbeddings.size === 5)
    assert(testEmbeddings.values.forall(_.length === 768))
  }

  test("NEGATIVE_MODE_SUBTRACT ranks 1, 2, 3 (query_test.go:137-171)") {
    val res = coll.queryWithOptions(QueryOptions(
      queryEmbedding = testEmbeddings("search_query: town"),
      nResults = coll.count().toInt,
      negative = NegativeQueryOptions(
        mode = NegativeMode.Subtract,
        embedding = testEmbeddings("search_query: idle"))))
    assert(res.map(_.id) === Seq("1", "2", "3"))
  }

  test("NEGATIVE_MODE_FILTER keeps only doc 1 (query_test.go:173-197)") {
    val res = coll.queryWithOptions(QueryOptions(
      queryEmbedding = testEmbeddings("search_query: town"),
      nResults = coll.count().toInt,
      negative = NegativeQueryOptions(
        mode = NegativeMode.Filter,
        embedding = testEmbeddings("search_query: idle"))))
    assert(res.length === 1)
    assert(res.head.id === "1")
  }

  test("indexed query returns identical results to the DataFrame path") {
    val db = DB.inMemory(spark, ConstEmbeddingFunc.stub())
    val c = db.createCollection("indexed")
    c.addDocuments(Seq(
      Document("1", Map("t" -> "v"),
        testEmbeddings("search_document: Village Builder Game"), "village"),
      Document("2", Map.empty,
        testEmbeddings("search_document: Town Craft Idle Game"), "town craft"),
      Document("3", Map.empty,
        testEmbeddings("search_document: Some Idle Game"), "some idle")))
    val q = testEmbeddings("search_query: town")
    val viaDf = c.queryEmbedding(q, 3)
    c.buildIndex()
    assert(c.hasIndex)
    val viaIdx = c.queryEmbedding(q, 3)
    assert(viaIdx.map(_.id) === viaDf.map(_.id))
    assert(viaIdx.map(_.similarity) === viaDf.map(_.similarity),
      "same float32 kernel => bit-identical scores")
    assert(viaIdx.map(_.content) === viaDf.map(_.content))
    assert(viaIdx.map(_.metadata) === viaDf.map(_.metadata))
    // filtered queries are answered by the index too (filters prune
    // before scoring); mutations drop the index
    assert(c.queryEmbedding(q, 1, where = Map("t" -> "v")).map(_.id) === Seq("1"))
    c.addDocuments(Seq(Document("4",
      embedding = testEmbeddings("search_query: idle"))))
    assert(!c.hasIndex)
    assert(c.queryEmbedding(q, 4).length === 4)
  }

  test("plain query ranks town-like docs by cosine (sanity)") {
    val res = coll.queryWithOptions(QueryOptions(
      queryEmbedding = testEmbeddings("search_query: town"),
      nResults = 3))
    assert(res.map(_.id).toSet === Set("1", "2", "3"))
    assert(res.map(_.similarity).sliding(2).forall(p => p(0) >= p(1)),
      "results must be sorted by similarity desc")
  }
}
